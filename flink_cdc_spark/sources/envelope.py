"""The changelog envelope — the DataFrame transport schema for change events.

This is the Spark representation of the reference's DataChangeEvent
(flink-cdc-common/src/main/java/org/apache/flink/cdc/common/event/DataChangeEvent.java:34-63):

    __table_id  STRING              namespace.schema.table
    __op        STRING              INSERT | UPDATE | DELETE | REPLACE
    before      STRUCT<payload>     null for INSERT/REPLACE
    after       STRUCT<payload>     null for DELETE
    __meta      MAP<STRING,STRING>  source metadata (op_ts, binlog pos, ...)
    __seq       BIGINT              monotone source offset for per-key ordering

Design rule (SURVEY.md §7.6): an UPDATE carries BOTH images in one row, so
before/after pairing survives any shuffle by construction; events are only
split (to -U/+U style rows) transiently inside operators that need it.

Keyed-sink rule (ValuesDatabase, Paimon's merge engine): per primary key the
last image wins, and a DELETE's key comes from its before image. This module
is its only implementation; stores, sinks and carry machines import it:

    row_image()       the image a keyed consumer writes or keys on —
                      ``before`` for a DELETE, ``after`` otherwise
                      (``ROW_IMAGE_SQL`` is its SQL text)
    first_per_key()   the one ``row_number() = 1`` window: one row per key,
                      the first under the given order
    from_images()     the envelope a keyed sink's records decode to — a
                      DELETE of the record's image, or an INSERT of it
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..core.sql_text import named_struct, quote, sql_string, sql_type

ENVELOPE_TABLE_ID = "__table_id"
ENVELOPE_OP = "__op"
ENVELOPE_META = "__meta"
ENVELOPE_SEQ = "__seq"

OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OP_REPLACE = "REPLACE"

ENVELOPE_SYSTEM_COLUMNS = [ENVELOPE_TABLE_ID, ENVELOPE_OP, "before", "after", ENVELOPE_META, ENVELOPE_SEQ]

# row_image() as SQL text, for plans built from strings
ROW_IMAGE_SQL = (
    f"(CASE WHEN {quote(ENVELOPE_OP)} = '{OP_DELETE}' THEN `before` ELSE `after` END)"
)


def envelope_schema(payload: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField(ENVELOPE_TABLE_ID, T.StringType(), False),
            T.StructField(ENVELOPE_OP, T.StringType(), False),
            T.StructField("before", payload, True),
            T.StructField("after", payload, True),
            T.StructField(ENVELOPE_META, T.MapType(T.StringType(), T.StringType()), True),
            T.StructField(ENVELOPE_SEQ, T.LongType(), False),
        ]
    )


def envelope_sql(table_id: str, op: str, before: str, after: str, seq: str) -> list:
    """The six envelope columns as ``selectExpr`` items, in order: the
    op, the images and the sequence from SQL text, ``table_id`` as a
    literal and an empty meta map."""
    return [
        f"{sql_string(table_id)} AS {quote(ENVELOPE_TABLE_ID)}",
        f"{op} AS {quote(ENVELOPE_OP)}",
        f"{before} AS `before`",
        f"{after} AS `after`",
        f"CAST(map() AS MAP<STRING, STRING>) AS {quote(ENVELOPE_META)}",
        f"{seq} AS {quote(ENVELOPE_SEQ)}",
    ]


def is_envelope(df: DataFrame) -> bool:
    names = set(df.columns)
    return {ENVELOPE_TABLE_ID, ENVELOPE_OP, "before", "after", ENVELOPE_SEQ} <= names


def payload_struct(df: DataFrame) -> T.StructType:
    """The payload StructType of an envelope DataFrame."""
    for f in df.schema.fields:
        if f.name == "after":
            return f.dataType
    raise ValueError("Not an envelope DataFrame (no 'after' column)")


def select_envelope(df: DataFrame, parts: dict, *extra: str) -> DataFrame:
    """One ``selectExpr`` over an envelope frame: the six envelope columns
    in order, each from the SQL text ``parts`` maps its name to (or the
    column itself), then the ``extra`` expressions."""
    return df.selectExpr(
        *[f"{parts[c]} AS {quote(c)}" if c in parts else quote(c)
          for c in ENVELOPE_SYSTEM_COLUMNS],
        *extra,
    )


def row_image() -> Column:
    """The image a keyed consumer writes or keys on: ``before`` for a
    DELETE, ``after`` for every other op."""
    return F.expr(ROW_IMAGE_SQL)


def first_per_key(df: DataFrame, keys: Sequence[str], *order: str) -> DataFrame:
    """One row per ``keys`` (SQL expressions): the first under ``order``
    (SQL sort items, e.g. ``"`__seq` DESC"``). One window partitioned on
    the keys, and no helper column left behind. Last-image-per-key passes
    a descending sequence."""
    rank = F.expr(f"row_number() OVER (PARTITION BY {', '.join(keys)} "
                  f"ORDER BY {', '.join(order)})")
    return df.withColumn("__rn", rank).where("__rn = 1").drop("__rn")


def from_images(
    records: DataFrame, table_id: str, row: Column, is_del: Column, meta: Column
) -> DataFrame:
    """The envelope a keyed sink's records decode to: where ``is_del`` a
    DELETE whose before image is ``row``, otherwise an INSERT (a full-row
    REPLACE under last-image-per-key) whose after image is ``row``.
    ``records`` carries the sink's ``__seq``."""
    return records.select(
        F.lit(table_id).alias(ENVELOPE_TABLE_ID),
        F.when(is_del, F.lit(OP_DELETE)).otherwise(F.lit(OP_INSERT)).alias(ENVELOPE_OP),
        F.when(is_del, row).alias("before"),
        F.when(~is_del, row).alias("after"),
        meta.alias(ENVELOPE_META),
        F.col(ENVELOPE_SEQ),
    )


def wrap_as_inserts(df: DataFrame, table_id: str, seq_offset: int = 0) -> DataFrame:
    """Wrap a plain table DataFrame as an insert-only changelog envelope.

    The sequence number is derived from a monotonically increasing id —
    stable within a batch read, no shuffle introduced.
    """
    payload = df.schema
    return df.selectExpr(*envelope_sql(
        table_id,
        f"'{OP_INSERT}'",
        f"CAST(NULL AS {sql_type(payload)})",
        named_struct((c, quote(c)) for c in payload.fieldNames()),
        f"monotonically_increasing_id() + {seq_offset}",
    ))


def wrap_as_upsert_deletes(
    df: DataFrame, table_id: str, delete_col: str, seq_offset: int = 0
) -> DataFrame:
    """Wrap a plain DataFrame as a changelog envelope whose per-row op is
    DELETE where the boolean column ``delete_col`` is true and INSERT
    otherwise — the upsert/tombstone delta shape the LSM state store
    consumes. Both images carry the same payload, so the row's
    ``row_image()`` is that payload whatever its op.

    Input contract: at most ONE row per primary key. The ``__seq``
    assigned here is ``monotonically_increasing_id()`` — stable within a
    read but reflecting no event order across partitions — so for several
    rows of one key the store's read window, which orders a commit's rows
    by ``__seq``, would pick an arbitrary winner. Every current caller
    passes pk-unique frames (aggregation / last-image outputs); a future
    multi-event-per-key caller must thread a real ordering column instead."""
    payload_cols = [c for c in df.columns if c != delete_col]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    return df.select(
        F.lit(table_id).alias(ENVELOPE_TABLE_ID),
        F.when(F.col(delete_col), F.lit(OP_DELETE))
        .otherwise(F.lit(OP_INSERT))
        .alias(ENVELOPE_OP),
        payload.alias("before"),
        payload.alias("after"),
        F.create_map().cast("map<string,string>").alias(ENVELOPE_META),
        (F.monotonically_increasing_id() + F.lit(seq_offset)).alias(ENVELOPE_SEQ),
    )
