"""Changelog <-> Kafka JSON envelope formats: debezium-json and canal-json.

The Spark mapping of the reference's Kafka pipeline connector
(pipeline-connector-kafka/.../json/JsonSerializationType.java:29-32 and
ChangeLogJsonFormatFactory): serialization renders each DataChangeEvent as
a debezium- or canal-style JSON document; deserialization parses those
documents back into the changelog envelope. Everything is built-in
`to_json` / `from_json` column expressions — whole-stage codegen, no UDFs —
so a Kafka sink is `encode_*(env).write.format("kafka")` with the JSON as
the record value, and a Kafka source is `from Kafka value` -> `decode_*`.

Format notes:
  * debezium: {"before":{...}|null,"after":{...}|null,"op":"c|u|d|r",
      "source":{"db":...,"table":...},"ts_ms":<millis>}
    op mapping c=INSERT u=UPDATE d=DELETE r=REPLACE (snapshot read).
  * canal: {"old":[{...}]|null,"data":[{...}]|null,
      "type":"INSERT|UPDATE|DELETE","database":...,"table":...,
      "pkNames":[...],"ts":<millis>}
    Full before images are emitted in "old" (canal itself may send only
    changed columns; the decoder accepts either, nulling absent fields).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from .envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    OP_INSERT,
    OP_REPLACE,
    OP_UPDATE,
    payload_struct,
    row_image,
)

_DBZ_OP = {OP_INSERT: "c", OP_UPDATE: "u", OP_DELETE: "d", OP_REPLACE: "r"}


def _split_table_id():
    """(db, table) from the dotted table id: db = all but last segment."""
    parts = F.split(F.col(ENVELOPE_TABLE_ID), r"\.")
    n = F.size(parts)
    db = F.when(n > 1, F.array_join(F.slice(parts, 1, n - 1), ".")).otherwise(F.lit(""))
    return db, F.element_at(parts, -1)


def debezium_value_expr(env: DataFrame):
    """The debezium-json value as a Column over an envelope frame (shared
    by the plain encoder and the producer-record assembly in
    sinks/kafka_sink.py, which adds keys/topics in the SAME projection —
    no self-join)."""
    db, table = _split_table_id()
    op = (
        F.when(F.col(ENVELOPE_OP) == OP_INSERT, "c")
        .when(F.col(ENVELOPE_OP) == OP_UPDATE, "u")
        .when(F.col(ENVELOPE_OP) == OP_DELETE, "d")
        .otherwise("r")
    )
    ts = F.coalesce(
        F.element_at(F.col(ENVELOPE_META), "op_ts").cast("long"), F.lit(0)
    )
    return F.to_json(
        F.struct(
            F.col("before").alias("before"),
            F.col("after").alias("after"),
            op.alias("op"),
            F.struct(db.alias("db"), table.alias("table")).alias("source"),
            ts.alias("ts_ms"),
        )
    )


def encode_debezium_json(env: DataFrame) -> DataFrame:
    """Envelope -> (key, value) debezium-json records. The key is the
    table id (a production sink keys by primary key for per-key ordering
    into one partition; callers with PK knowledge should re-key)."""
    return env.select(
        F.col(ENVELOPE_TABLE_ID).alias("key"),
        debezium_value_expr(env).alias("value"),
        F.col(ENVELOPE_SEQ).alias("__offset"),
    )


def decode_debezium_json(
    records: DataFrame,
    payload: T.StructType,
    value_col: str = "value",
    offset_col: Optional[str] = "__offset",
) -> DataFrame:
    """debezium-json records -> envelope. `payload` is the table schema
    current at decode time (schema registry / coordinator supplies it)."""
    doc_schema = T.StructType(
        [
            T.StructField("before", payload, True),
            T.StructField("after", payload, True),
            T.StructField("op", T.StringType(), True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("db", T.StringType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("ts_ms", T.LongType(), True),
        ]
    )
    doc = F.from_json(F.col(value_col), doc_schema).alias("d")
    parsed = records.select(
        doc,
        (F.col(offset_col) if offset_col else F.monotonically_increasing_id()).alias(
            ENVELOPE_SEQ
        ),
    )
    op = (
        F.when(F.col("d.op") == "c", OP_INSERT)
        .when(F.col("d.op") == "u", OP_UPDATE)
        .when(F.col("d.op") == "d", OP_DELETE)
        .otherwise(OP_REPLACE)
    )
    table_id = F.when(
        F.length(F.col("d.source.db")) > 0,
        F.concat_ws(".", F.col("d.source.db"), F.col("d.source.table")),
    ).otherwise(F.col("d.source.table"))
    return parsed.select(
        table_id.alias(ENVELOPE_TABLE_ID),
        op.alias(ENVELOPE_OP),
        F.col("d.before").alias("before"),
        F.col("d.after").alias("after"),
        F.map_from_arrays(
            F.array(F.lit("op_ts")), F.array(F.col("d.ts_ms").cast("string"))
        ).alias(ENVELOPE_META),
        F.col(ENVELOPE_SEQ),
    )


def canal_value_expr(env: DataFrame, pk_names: Sequence[str] = ()):
    """The canal-json value as a Column over an envelope frame."""
    db, table = _split_table_id()
    ctype = (
        F.when(F.col(ENVELOPE_OP) == OP_DELETE, "DELETE")
        .when(F.col(ENVELOPE_OP) == OP_UPDATE, "UPDATE")
        .otherwise("INSERT")
    )
    # canal DELETE carries the removed row in `data`
    data_img = row_image()
    old_img = F.when(F.col(ENVELOPE_OP) == OP_UPDATE, F.col("before")).otherwise(
        F.lit(None).cast(payload_struct(env))
    )
    ts = F.coalesce(
        F.element_at(F.col(ENVELOPE_META), "op_ts").cast("long"), F.lit(0)
    )
    return F.to_json(
        F.struct(
            F.when(old_img.isNotNull(), F.array(old_img)).alias("old"),
            F.when(data_img.isNotNull(), F.array(data_img)).alias("data"),
            ctype.alias("type"),
            db.alias("database"),
            table.alias("table"),
            F.array(*[F.lit(k) for k in pk_names]).alias("pkNames"),
            ts.alias("ts"),
        )
    )


def encode_canal_json(env: DataFrame, pk_names: Sequence[str] = ()) -> DataFrame:
    """Envelope -> (key, value) canal-json records."""
    return env.select(
        F.col(ENVELOPE_TABLE_ID).alias("key"),
        canal_value_expr(env, pk_names).alias("value"),
        F.col(ENVELOPE_SEQ).alias("__offset"),
    )


def decode_canal_json(
    records: DataFrame,
    payload: T.StructType,
    value_col: str = "value",
    offset_col: Optional[str] = "__offset",
) -> DataFrame:
    doc_schema = T.StructType(
        [
            T.StructField("old", T.ArrayType(payload), True),
            T.StructField("data", T.ArrayType(payload), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("database", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("pkNames", T.ArrayType(T.StringType()), True),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    doc = F.from_json(F.col(value_col), doc_schema).alias("d")
    parsed = records.select(
        doc,
        (F.col(offset_col) if offset_col else F.monotonically_increasing_id()).alias(
            ENVELOPE_SEQ
        ),
    )
    op = (
        F.when(F.col("d.type") == "DELETE", OP_DELETE)
        .when(F.col("d.type") == "UPDATE", OP_UPDATE)
        .otherwise(OP_INSERT)
    )
    first = lambda col: F.element_at(F.col(col), 1)  # noqa: E731
    before = F.when(op == OP_DELETE, first("d.data")).otherwise(first("d.old"))
    after = F.when(op == OP_DELETE, F.lit(None).cast(payload)).otherwise(
        first("d.data")
    )
    table_id = F.when(
        F.length(F.col("d.database")) > 0,
        F.concat_ws(".", F.col("d.database"), F.col("d.table")),
    ).otherwise(F.col("d.table"))
    return parsed.select(
        table_id.alias(ENVELOPE_TABLE_ID),
        op.alias(ENVELOPE_OP),
        before.alias("before"),
        after.alias("after"),
        F.map_from_arrays(
            F.array(F.lit("op_ts")), F.array(F.col("d.ts").cast("string"))
        ).alias(ENVELOPE_META),
        F.col(ENVELOPE_SEQ),
    )
