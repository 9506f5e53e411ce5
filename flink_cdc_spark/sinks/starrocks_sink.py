"""StarRocks pipeline sink: CDC envelope -> stream-load rows + catalog DDL.

Reference: pipeline-connector-starrocks
  - EventRecordSerializationSchema.java:106-138 — each DataChangeEvent
    becomes one JSON stream-load row over the image (after for
    INSERT/UPDATE/REPLACE, before for DELETE) plus the `__op` column
    (0 = upsert, 1 = delete); record keyed (database = getSchemaName(),
    table = getTableName()).
  - StarRocksUtils.java:206-290 (createFieldGetter) — DATE rendered
    `yyyy-MM-dd`, DATETIME (both TIMESTAMP and LTZ) rendered
    `yyyy-MM-dd HH:mm:ss` at SECOND precision (unlike Doris's micros),
    TIME as `HH:mm:ss[.fff]`.
  - StarRocksUtils.java:295-470 (CdcDataTypeTransformer) — type mapping
    for table creation: char/varchar lengths scaled by
    unicode-char.max-bytes (default 3) because StarRocks lengths are
    bytes; CHAR over 255 bytes or in a primary key becomes VARCHAR;
    DECIMAL in a primary key becomes VARCHAR(p+1|p+2).
  - StarRocksMetadataApplier.java:88-330 — supported schema changes:
    CREATE/ADD/DROP/RENAME/ALTER_TYPE/DROP_TABLE/TRUNCATE.
  - StarRocksDataSinkOptions.java / StarRocksDataSinkFactory.java —
    option surface (required jdbc-url/load-url/username/password).

Spark-first: wire rows are pure column expressions (withField + to_json);
the second-precision DATETIME render is a date_format cast inside the
struct, still JVM-side codegen.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    from_images,
    row_image,
)

STARROCKS_OP = "__op"
OP_UPSERT = 0
OP_DELETE_SR = 1

_JSON_OPTS = {
    "dateFormat": "yyyy-MM-dd",
    # StarRocksUtils DATETIME_FORMATTER: second precision.
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss",
    # JsonWrapper serializes the full row map including nulls.
    "ignoreNullFields": "false",
}


def encode_starrocks(env: DataFrame) -> DataFrame:
    """Envelope -> stream-load records (database, table, row, __seq).

    `row` is the JSON line EventRecordSerializationSchema.serializeRecord
    builds: image columns plus integer `__op` (0 upsert / 1 delete)."""
    is_del = F.col(ENVELOPE_OP) == OP_DELETE
    image = row_image()
    body = image.withField(
        STARROCKS_OP,
        F.when(is_del, F.lit(OP_DELETE_SR)).otherwise(F.lit(OP_UPSERT)),
    )
    parts = F.split(F.col(ENVELOPE_TABLE_ID), r"\.")
    n = F.size(parts)
    database = F.when(n >= 2, F.element_at(parts, -2)).otherwise(F.lit(""))
    return env.select(
        database.alias("database"),
        F.element_at(parts, -1).alias("table"),
        F.to_json(body, _JSON_OPTS).alias("row"),
        F.col(ENVELOPE_SEQ).alias("__seq"),
    )


def decode_starrocks(
    records: DataFrame, payload: T.StructType, table_id: str
) -> DataFrame:
    """Stream-load rows -> envelope, as a StarRocks primary-key table
    applies them: __op=1 deletes the key, __op=0 is a full-row upsert."""
    schema = T.StructType(
        list(payload.fields) + [T.StructField(STARROCKS_OP, T.IntegerType(), True)]
    )
    parsed = F.from_json(F.col("row"), schema, _JSON_OPTS)
    row = F.struct(*[parsed.getField(f.name).alias(f.name) for f in payload.fields])
    is_del = parsed.getField(STARROCKS_OP) == OP_DELETE_SR
    meta = F.create_map(F.lit("sink"), F.lit("starrocks"))
    return from_images(records, table_id, row, is_del, meta)


# ---------------------------------------------------------------------------
# Type mapping for table creation (CdcDataTypeTransformer)
# ---------------------------------------------------------------------------

MAX_CHAR_SIZE = 255
MAX_VARCHAR_SIZE = 1048576
MAX_VARBINARY_SIZE = 1048576


def starrocks_type(
    dt: T.DataType,
    is_primary_key: bool = False,
    length: Optional[int] = None,
    is_char: bool = False,
    unicode_char_max_bytes: int = 3,
) -> str:
    """CDC/Spark type -> StarRocks column type string.

    `length` is the CDC character length for CHAR/VARCHAR (None = STRING),
    scaled to bytes by unicode_char_max_bytes per CdcDataTypeTransformer."""
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.ByteType):
        return "TINYINT"
    if isinstance(dt, T.ShortType):
        return "SMALLINT"
    if isinstance(dt, T.IntegerType):
        return "INT"
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.FloatType):
        return "FLOAT"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    if isinstance(dt, T.DecimalType):
        if is_primary_key:
            # decimal can't key a StarRocks table: VARCHAR(p+1|p+2)
            size = dt.precision + (2 if dt.scale != 0 else 1)
            return f"VARCHAR({min(size, MAX_VARCHAR_SIZE)})"
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "DATETIME"
    if isinstance(dt, T.BinaryType):
        return f"VARBINARY({MAX_VARBINARY_SIZE})"
    if isinstance(dt, T.StringType):
        if length is None:
            return "STRING"
        byte_len = length * unicode_char_max_bytes
        if is_char and byte_len <= MAX_CHAR_SIZE and not is_primary_key:
            return f"CHAR({byte_len})"
        return f"VARCHAR({min(byte_len, MAX_VARCHAR_SIZE)})"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "JSON"
    return "STRING"


@dataclass
class StarRocksDdl:
    statement: str


class StarRocksMetadataApplier:
    """DDL the reference applier drives through StarRocksCatalog; supported
    set mirrors StarRocksMetadataApplier.getSupportedSchemaEvolutionTypes."""

    SUPPORTED = {
        "CREATE_TABLE",
        "ADD_COLUMN",
        "DROP_COLUMN",
        "RENAME_COLUMN",
        "ALTER_COLUMN_TYPE",
        "DROP_TABLE",
        "TRUNCATE_TABLE",
    }

    def __init__(self, num_buckets: Optional[int] = None):
        self.num_buckets = num_buckets
        self.statements: List[StarRocksDdl] = []

    def _emit(self, sql: str) -> str:
        self.statements.append(StarRocksDdl(sql))
        return sql

    def create_table(
        self,
        database: str,
        table: str,
        columns: List[tuple],
        primary_keys: List[str],
    ) -> str:
        """columns: [(name, spark_type, char_length_or_None), ...].
        Primary-key table when a pk exists (the CDC-normal case); key
        columns ordered first as StarRocks requires."""
        pk = set(primary_keys)
        ordered = [c for k in primary_keys for c in columns if c[0] == k] + [
            c for c in columns if c[0] not in pk
        ]
        col_sql = ", ".join(
            f"`{name}` {starrocks_type(dt, is_primary_key=name in pk, length=ln)}"
            + (" NOT NULL" if name in pk else "")
            for name, dt, ln in ordered
        )
        key_sql = ", ".join(f"`{k}`" for k in primary_keys)
        model = f"PRIMARY KEY({key_sql})" if primary_keys else ""
        buckets = f" BUCKETS {self.num_buckets}" if self.num_buckets else ""
        dist_cols = key_sql or f"`{columns[0][0]}`"
        return self._emit(
            f"CREATE TABLE IF NOT EXISTS `{database}`.`{table}` ({col_sql}) "
            f"{model} DISTRIBUTED BY HASH({dist_cols}){buckets}".strip()
        )

    def add_column(self, database, table, name, dt, length=None) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` ADD COLUMN "
            f"`{name}` {starrocks_type(dt, length=length)}"
        )

    def drop_column(self, database, table, name) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` DROP COLUMN `{name}`"
        )

    def rename_column(self, database, table, old, new) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` RENAME COLUMN `{old}` TO `{new}`"
        )

    def alter_column_type(self, database, table, name, dt, length=None) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` MODIFY COLUMN "
            f"`{name}` {starrocks_type(dt, length=length)}"
        )

    def truncate_table(self, database, table) -> str:
        return self._emit(f"TRUNCATE TABLE `{database}`.`{table}`")

    def drop_table(self, database, table) -> str:
        return self._emit(f"DROP TABLE IF EXISTS `{database}`.`{table}`")


# ---------------------------------------------------------------------------
# Factory option surface (StarRocksDataSinkFactory / StarRocksDataSinkOptions)
# ---------------------------------------------------------------------------

REQUIRED_OPTIONS = ("jdbc-url", "load-url", "username", "password")
OPTIONAL_OPTIONS = (
    "sink.label-prefix",
    "sink.connect.timeout-ms",
    "sink.socket.timeout-ms",
    "sink.wait-for-continue.timeout-ms",
    "sink.buffer-flush.max-bytes",
    "sink.buffer-flush.interval-ms",
    "sink.scan-frequency.ms",
    "sink.io.thread-count",
    "sink.at-least-once.use-transaction-stream-load",
    "sink.metric.histogram-window-size",
    "table.create.num-buckets",
    "table.schema-change.timeout",
    "unicode-char.max-bytes",
)
_PREFIX_OPTIONS = ("table.create.properties.", "sink.properties.")


@dataclass
class StarRocksSinkOptions:
    jdbc_url: str
    load_url: str
    username: str
    password: str
    label_prefix: Optional[str] = None
    num_buckets: Optional[int] = None
    unicode_char_max_bytes: int = 3


def validate_starrocks_options(config: dict) -> StarRocksSinkOptions:
    missing = [k for k in REQUIRED_OPTIONS if k not in config]
    if missing:
        raise ValueError(f"starrocks sink: missing required option(s): {missing}")
    for key in config:
        if any(key.startswith(p) for p in _PREFIX_OPTIONS):
            continue
        if key in ("type",) or key in REQUIRED_OPTIONS or key in OPTIONAL_OPTIONS:
            continue
        raise ValueError(f"starrocks sink: unknown option {key!r}")
    ucmb = int(config.get("unicode-char.max-bytes", 3))
    if ucmb < 1:
        raise ValueError("starrocks sink: unicode-char.max-bytes must be >= 1")
    nb = config.get("table.create.num-buckets")
    return StarRocksSinkOptions(
        jdbc_url=str(config["jdbc-url"]),
        load_url=str(config["load-url"]),
        username=str(config["username"]),
        password=str(config["password"]),
        label_prefix=config.get("sink.label-prefix"),
        num_buckets=int(nb) if nb is not None else None,
        unicode_char_max_bytes=ucmb,
    )
