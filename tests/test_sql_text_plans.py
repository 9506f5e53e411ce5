"""Epoch plans built from SQL text (core/sql_text.py): the wire decode,
the transform, the coercion and the LSM store's selects render
identifiers, types and envelope logic as strings. Each case runs
transform -> coerce -> merge -> read and checks the values read back."""

import datetime
from decimal import Decimal

from pyspark.sql import types as T

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AlterColumnTypeEvent,
    CreateTableEvent,
    DataChangeEvent,
    RenameColumnEvent,
)
from flink_cdc_spark.core.schema import new_schema
from flink_cdc_spark.core.sql_text import quote, sql_string, sql_type
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.operators.coerce import coerce_envelope_payload
from flink_cdc_spark.operators.transform import TransformProcessor, TransformRule
from flink_cdc_spark.pipeline import parse_pipeline_yaml
from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import envelope_schema
from flink_cdc_spark.streaming import StreamingPipelineRunner
from flink_cdc_spark.streaming.wire import events_to_wire_lines


def _envelope(spark, schema, rows, table="t"):
    """rows: (op, before, after, seq)."""
    return spark.createDataFrame(
        [(table, op, b, a, {}, seq) for op, b, a, seq in rows],
        envelope_schema(schema.to_spark_struct()),
    )


def _through(spark, store, rule, schema, rows, target=None):
    """One epoch: ``rows`` transformed, coerced to ``target`` (default: the
    transform's output schema) and merged into ``store`` table ``t``."""
    proc = TransformProcessor(rule, schema.to_spark_struct(), logical_schema=schema)
    out = proc.output_schema(schema)
    target = target or out.to_spark_struct()
    env = coerce_envelope_payload(proc.apply(_envelope(spark, schema, rows)), target)
    store.merge("t", env, target, list(out.primary_keys))


def test_helpers_quote_and_round_trip_types(spark):
    assert quote("a`b") == "`a``b`"
    assert sql_string("it's a \\") == "'it\\'s a \\\\'"
    odd = "a`b.c 'd'"
    assert spark.sql(f"SELECT {sql_string(odd)} AS {quote(odd)}").first()[odd] == odd
    for dt in (
        T.StructType([
            T.StructField("x y", T.IntegerType(), False),
            T.StructField("a`b", T.ArrayType(T.StringType())),
            T.StructField("c.d", T.MapType(T.StringType(), T.LongType())),
            T.StructField("it's", T.StructType([T.StructField("in ner", T.BinaryType())])),
        ]),
        T.DecimalType(38, 10),
        T.TimestampNTZType(),
        T.ArrayType(T.StructType([T.StructField("k v", T.DateType())])),
    ):
        got = spark.sql(f"SELECT CAST(NULL AS {sql_type(dt)}) AS c").schema["c"].dataType
        assert got == dt, (sql_type(dt), got)
    # DDL cannot state non-null array elements or map values
    for dt in (
        T.ArrayType(T.IntegerType(), False),
        T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType(), False))]),
    ):
        got = spark.sql(f"SELECT CAST(NULL AS {sql_type(dt)}) AS c").schema["c"].dataType
        assert got != dt


def test_quoted_column_names_through_the_wire_runner(spark, tmp_path):
    """Names with a space, a dot, a backtick and a quote: decoded with the
    source schema as DDL text, projected, filtered, widened by an ALTER,
    renamed sink-side, merged, read back and read again after a
    compaction."""
    tid = TableId.parse("db.t")
    schema = (
        new_schema()
        .physical_column("id", "BIGINT NOT NULL")
        .physical_column("a b", "STRING")
        .physical_column("a.b", "INT")
        .physical_column("a`b", "DOUBLE")
        .physical_column("a'b", "STRING")
        .primary_key("id")
        .build()
    )
    files = [
        [CreateTableEvent(tid, schema),
         DataChangeEvent.insert(tid, (1, "x y", 1, 1.5, "q'1")),
         DataChangeEvent.insert(tid, (2, "z", -1, 2.5, "w")),
         DataChangeEvent.insert(tid, (3, "k", 3, 3.5, "e\\'"))],
        [AlterColumnTypeEvent(tid, (("a.b", ct.bigint()),)),
         DataChangeEvent.update(tid, (1, "x y", 1, 1.5, "q'1"), (1, "x y", 2**40, 1.5, "q'1")),
         RenameColumnEvent(tid, (("a'b", "c`d"),)),
         DataChangeEvent.update(tid, (3, "k", 3, 3.5, "e\\'"), (3, "k", 3, 9.5, "e\\'"))],
    ]
    src = tmp_path / "src"
    src.mkdir()
    runner = StreamingPipelineRunner(
        spark,
        parse_pipeline_yaml("""
source: {type: wire}
sink: {type: state}
transform:
  - source-table: db.t
    projection: "*, UPPER(`a b`) AS `up per`"
    filter: "`a.b` > 0"
pipeline: {schema.change.behavior: EVOLVE}
"""),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    known, seq = [], 0
    for i, events in enumerate(files):
        lines = events_to_wire_lines(known + events, seq)[len(known):]
        (src / f"f{i}.json").write_text("\n".join(lines) + "\n")
        seq += len(known) + len(events)
        known += [e for e in events if not isinstance(e, DataChangeEvent)]
        runner.run_available(str(src))
    want = {
        (1, "x y", 2**40, 1.5, "q'1", "X Y"),
        (3, "k", 3, 9.5, "e\\'", "K"),
    }

    def rows():
        df = runner.state.read("db.t")
        assert df.columns == ["id", "a b", "a.b", "a`b", "c`d", "up per"]
        assert df.schema["a.b"].dataType == T.LongType()
        return {tuple(r) for r in df.collect()}

    assert rows() == want
    runner.state.compact("db.t")
    assert runner.state._load("db.t")["deltas"] == []
    assert rows() == want


def test_nested_and_temporal_types(spark, tmp_path):
    """STRUCT / ARRAY / MAP, DECIMAL(38,10), TIMESTAMP_NTZ, BINARY, TIME
    and TIMESTAMP_TZ columns through a filtered transform, then coerced
    to a target that widens a nested field (a CAST to a STRUCT type with
    a quoted field name) and adds a nested column (a typed NULL)."""
    schema = (
        new_schema()
        .physical_column("id", "BIGINT NOT NULL")
        .physical_column("s", "ROW<`x y` INT, z ARRAY<STRING>>")
        .physical_column("arr", "ARRAY<ROW<k STRING, v INT>>")
        .physical_column("m", "MAP<STRING, BIGINT>")
        .physical_column("d", "DECIMAL(38,10)")
        .physical_column("ntz", "TIMESTAMP")
        .physical_column("bin", "BINARY")
        .physical_column("tm", "TIME")
        .physical_column("tz", "TIMESTAMP_TZ")
        .primary_key("id")
        .build()
    )
    d = Decimal("1234567890123456789012345678.0123456789")
    ntz = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)
    row1 = (1, (7, ["p", None]), [("a", 1), ("b", None)], {"k": 2**40}, d, ntz,
            bytearray(b"\x00\xff"), 45_296_789, "2024-02-29T23:59:58.123+05:30")
    row2 = (2, (8, []), [], {}, Decimal("-0.0000000001"), ntz, bytearray(b""), 0,
            "1970-01-01T00:00:00Z")
    target = T.StructType(
        [f if f.name != "s" else T.StructField("s", T.StructType([
            T.StructField("x y", T.LongType()),
            T.StructField("z", T.ArrayType(T.StringType())),
        ])) for f in schema.to_spark_struct().fields]
        + [T.StructField("extra", T.StructType([T.StructField("p q", T.StringType())]))]
    )
    store = LsmStateStore(spark, str(tmp_path / "lsm"))
    rule = TransformRule("t", filter="id > 0")
    _through(spark, store, rule, schema,
             [("INSERT", None, row1, 1), ("INSERT", None, row2, 2)], target)
    _through(spark, store, rule, schema, [("DELETE", row2, None, 3)], target)
    for _ in range(2):  # from the delta files, then from a compacted base
        got = store.read("t").collect()
        assert len(got) == 1
        r = got[0]
        assert r.s["x y"] == 7 and r.s.z == ["p", None]
        assert [tuple(e) for e in r.arr] == [("a", 1), ("b", None)]
        assert r.m == {"k": 2**40} and r.d == d and r.ntz == ntz
        assert bytes(r.bin) == b"\x00\xff" and r.tm == 45_296_789
        assert r.tz == "2024-02-29T23:59:58.123+05:30" and r.extra is None
        assert store.read("t").schema["s"].dataType == target["s"].dataType
        store.compact("t")


def _split_rows():
    return [
        ("UPDATE", (1, 10), (1, 1), 10),   # Y/N -> DELETE
        ("UPDATE", (2, 10), (2, 20), 11),  # Y/Y -> UPDATE
        ("UPDATE", (3, 1), (3, 10), 12),   # N/Y -> INSERT
        ("UPDATE", (4, 1), (4, 2), 13),    # N/N -> dropped
        ("DELETE", (5, 10), None, 14),     # passes on its before image
    ]


_KV = new_schema().physical_column("id", "BIGINT NOT NULL").physical_column(
    "v", "INT").primary_key("id").build()
_INSERTS = [("INSERT", None, (i, v), i) for i, v in ((1, 10), (2, 10), (3, 1), (4, 1), (5, 10))]


def test_filter_splits_updates(spark, tmp_path):
    rule = TransformRule("t", filter="v > 5")
    proc = TransformProcessor(rule, _KV.to_spark_struct(), logical_schema=_KV)
    out = proc.apply(_envelope(spark, _KV, _split_rows()))
    got = {(r.after or r.before).id: (r["__op"], r.before and tuple(r.before),
                                      r.after and tuple(r.after))
           for r in out.collect()}
    assert got == {
        1: ("DELETE", (1, 10), None),
        2: ("UPDATE", (2, 10), (2, 20)),
        3: ("INSERT", None, (3, 10)),
        5: ("DELETE", (5, 10), None),
    }
    store = LsmStateStore(spark, str(tmp_path / "lsm"))
    _through(spark, store, rule, _KV, _INSERTS)
    assert {tuple(r) for r in store.read("t").collect()} == {(1, 10), (2, 10), (5, 10)}
    _through(spark, store, rule, _KV, _split_rows())
    assert {tuple(r) for r in store.read("t").collect()} == {(2, 20), (3, 10)}


def test_soft_delete_after_filter_split(spark, tmp_path):
    """SOFT_DELETE turns every DELETE, the split ones included, into an
    INSERT of its before image: the deleted keys stay live."""
    rule = TransformRule("t", filter="v > 5", converter_after_transform="SOFT_DELETE")
    store = LsmStateStore(spark, str(tmp_path / "lsm"))
    _through(spark, store, rule, _KV, _INSERTS)
    _through(spark, store, rule, _KV, _split_rows())
    assert {tuple(r) for r in store.read("t").collect()} == {
        (1, 10), (2, 20), (3, 10), (5, 10)}


def test_uuid_projection_differs_between_epochs(spark, tmp_path):
    """UUID()'s seed is resolved when each epoch's frame is analyzed, so
    two epochs of the same rows never repeat a value."""
    rule = TransformRule("t", projection="*, UUID() AS u")
    store = LsmStateStore(spark, str(tmp_path / "lsm"))
    for epoch in range(2):
        _through(spark, store, rule, _KV, [
            ("INSERT", None, (2 * epoch + i, i), i) for i in (1, 2)])
    got = store.read("t").collect()
    assert sorted(r.id for r in got) == [1, 2, 3, 4]
    assert len({r.u for r in got}) == 4 and all(len(r.u) == 36 for r in got)
