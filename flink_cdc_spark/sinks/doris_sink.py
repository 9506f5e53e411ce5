"""Doris pipeline sink: CDC envelope -> stream-load wire bodies + FE DDL.

Reference: pipeline-connector-doris
  - DorisEventSerializer.java:60-150 — each DataChangeEvent becomes one
    stream-load JSON row over the image (after for INSERT/UPDATE/REPLACE,
    before for DELETE) with the hidden delete-sign column
    `__DORIS_DELETE_SIGN__` ("0" write / "1" delete); DATE rendered
    `yyyy-MM-dd`, timestamps `yyyy-MM-dd HH:mm:ss.SSSSSS`; the record is
    keyed (database = TableId.getSchemaName(), table = getTableName()).
  - DorisEventSerializer.java:130-152 — auto-partition columns that are
    NULL are backfilled with DorisSchemaUtils.DEFAULT_DATE /
    DEFAULT_DATETIME so the FE can route the row to a partition.
  - DorisMetadataApplier.java — CreateTable -> UNIQUE (pk) / DUPLICATE
    model with distribute keys = pk (or first column); Add/Drop/Rename
    column + AlterType + Truncate/Drop table forwarded as light-schema-
    change DDL; timestamps map to DATETIMEV2(min(max(p,0),6)).
  - DorisDataSinkOptions.java / DorisDataSinkFactory.java — option surface
    (required fenodes/username; stream-load label prefix etc.).

Spark-first shape: the wire body is built entirely from column expressions
(`withField` + `to_json` with dateFormat/timestampFormat options — JVM-side,
codegen-friendly, no Python in the row path). Batch labels for the
stream-load exactly-once contract derive deterministically from __seq, so a
replayed micro-batch regenerates the SAME labels and Doris dedups the load.
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

DORIS_DELETE_SIGN = "__DORIS_DELETE_SIGN__"
DEFAULT_DATE = "1970-01-01"          # DorisSchemaUtils.DEFAULT_DATE
DEFAULT_DATETIME = "1970-01-01 00:00:00"  # DorisSchemaUtils.DEFAULT_DATETIME

# DorisEventSerializer formatters, as Spark datetime patterns. Jackson
# writes explicit nulls for absent values, so ignoreNullFields=false.
_JSON_OPTS = {
    "dateFormat": "yyyy-MM-dd",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "ignoreNullFields": "false",
}


def _db_and_table(table_id_col):
    """TableId.getSchemaName()/getTableName(): last two dotted parts."""
    parts = F.split(table_id_col, r"\.")
    n = F.size(parts)
    database = F.when(n >= 2, F.element_at(parts, -2)).otherwise(F.lit(""))
    return database, F.element_at(parts, -1)


def encode_doris(
    env: DataFrame,
    partition_key: Optional[str] = None,
    partition_is_date: bool = False,
    label_prefix: str = "",
    label_batch_rows: int = 50000,
) -> DataFrame:
    """Envelope -> stream-load records (database, table, label, row, __seq).

    `row` is the exact stream-load JSON line DorisEventSerializer would
    emit: image columns plus the "0"/"1" delete sign. `label` groups rows
    into loads of at most `label_batch_rows` (sink.buffer-flush.max-rows):
    label = {prefix}_{db}_{tbl}_{seq-bucket}, deterministic on replay —
    Doris rejects a duplicate label, which is the exactly-once mechanism.
    """
    is_del = F.col(ENVELOPE_OP) == OP_DELETE
    image = row_image()
    if partition_key is not None:
        default = F.lit(DEFAULT_DATE if partition_is_date else DEFAULT_DATETIME)
        filled = F.coalesce(
            image.getField(partition_key).cast("string"), default
        )
        image = image.withField(partition_key, filled)
    body = image.withField(
        DORIS_DELETE_SIGN, F.when(is_del, F.lit("1")).otherwise(F.lit("0"))
    )
    database, table = _db_and_table(F.col(ENVELOPE_TABLE_ID))
    label = F.concat_ws(
        "_",
        F.lit(label_prefix or "flink_cdc"),
        database,
        table,
        F.floor(F.col(ENVELOPE_SEQ) / F.lit(label_batch_rows)).cast("string"),
    )
    return env.select(
        database.alias("database"),
        table.alias("table"),
        label.alias("label"),
        F.to_json(body, _JSON_OPTS).alias("row"),
        F.col(ENVELOPE_SEQ).alias("__seq"),
    )


def decode_doris(records: DataFrame, payload: T.StructType, table_id: str) -> DataFrame:
    """Stream-load records -> envelope, as the Doris UNIQUE-model table
    applies them: delete-sign "1" removes the key, otherwise the row is a
    full-image REPLACE. Callers materialize by primary key over __seq."""
    schema = T.StructType(
        list(payload.fields)
        + [T.StructField(DORIS_DELETE_SIGN, T.StringType(), True)]
    )
    parsed = F.from_json(F.col("row"), schema, _JSON_OPTS)
    row = F.struct(*[parsed.getField(f.name).alias(f.name) for f in payload.fields])
    is_del = parsed.getField(DORIS_DELETE_SIGN) == "1"
    meta = F.create_map(F.lit("sink"), F.lit("doris"), F.lit("label"), F.col("label"))
    return from_images(records, table_id, row, is_del, meta)


# ---------------------------------------------------------------------------
# MetadataApplier analog: SchemaChangeEvent -> Doris FE DDL
# ---------------------------------------------------------------------------

def doris_type(dt: T.DataType, precision: Optional[int] = None) -> str:
    """CDC/Spark type -> Doris column type (DorisMetadataApplier.buildTypeString
    + doris-flink-connector DorisTypeMapper rules: timestamps always
    DATETIMEV2(clamp(p,0,6)); char/varchar lengths *3 for UTF-8 bytes)."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        p = 6 if precision is None else min(max(precision, 0), 6)
        return f"DATETIMEV2({p})"
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
        if dt.precision <= 38:
            return f"DECIMALV3({dt.precision},{dt.scale})"
        return "STRING"
    if isinstance(dt, T.DateType):
        return "DATEV2"
    if isinstance(dt, (T.BinaryType, T.ArrayType, T.MapType, T.StructType)):
        return "STRING"
    if isinstance(dt, T.StringType):
        if precision is None:
            return "STRING"
        byte_len = precision * 3
        if byte_len > 65533:
            return "STRING"
        return f"VARCHAR({byte_len})"
    return "STRING"


@dataclass
class DorisDdl:
    """One FE schema-change statement (what DorisSchemaChangeManager posts)."""

    statement: str


class DorisMetadataApplier:
    """Generates the DDL DorisMetadataApplier would execute via the FE HTTP
    API. Supported evolution types mirror getSupportedSchemaEvolutionTypes:
    ADD/DROP/RENAME COLUMN, ALTER_COLUMN_TYPE, DROP/TRUNCATE TABLE."""

    SUPPORTED = {
        "ADD_COLUMN",
        "ALTER_COLUMN_TYPE",
        "DROP_COLUMN",
        "DROP_TABLE",
        "RENAME_COLUMN",
        "TRUNCATE_TABLE",
    }

    def __init__(self, table_properties: Optional[dict] = None):
        self.table_properties = dict(table_properties or {})
        self.statements: List[DorisDdl] = []

    def _emit(self, sql: str) -> str:
        self.statements.append(DorisDdl(sql))
        return sql

    def create_table(
        self,
        database: str,
        table: str,
        columns: List[tuple],
        primary_keys: List[str],
        buckets: int = 32,
    ) -> str:
        """columns: [(name, spark_type, precision_or_None), ...]. UNIQUE KEY
        model when a primary key exists, DUPLICATE otherwise; distribution
        keys = pk (or first column) per buildDistributeKeys."""
        model = "UNIQUE" if primary_keys else "DUPLICATE"
        keys = primary_keys or [columns[0][0]]
        # Doris requires key columns first, in key order.
        key_set = set(keys)
        ordered = [c for k in keys for c in columns if c[0] == k] + [
            c for c in columns if c[0] not in key_set
        ]
        col_sql = ", ".join(
            f"`{name}` {doris_type(dt, prec)}" for name, dt, prec in ordered
        )
        key_sql = ", ".join(f"`{k}`" for k in keys)
        props = {"light_schema_change": "true", **self.table_properties}
        props_sql = ", ".join(f'"{k}" = "{v}"' for k, v in sorted(props.items()))
        return self._emit(
            f"CREATE TABLE IF NOT EXISTS `{database}`.`{table}` ({col_sql}) "
            f"{model} KEY({key_sql}) "
            f"DISTRIBUTED BY HASH({key_sql}) BUCKETS {buckets} "
            f"PROPERTIES ({props_sql})"
        )

    def add_column(self, database, table, name, dt, precision=None) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` ADD COLUMN "
            f"`{name}` {doris_type(dt, precision)}"
        )

    def drop_column(self, database, table, name) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` DROP COLUMN `{name}`"
        )

    def rename_column(self, database, table, old, new) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` RENAME COLUMN `{old}` `{new}`"
        )

    def alter_column_type(self, database, table, name, dt, precision=None) -> str:
        return self._emit(
            f"ALTER TABLE `{database}`.`{table}` MODIFY COLUMN "
            f"`{name}` {doris_type(dt, precision)}"
        )

    def truncate_table(self, database, table) -> str:
        return self._emit(f"TRUNCATE TABLE `{database}`.`{table}`")

    def drop_table(self, database, table) -> str:
        return self._emit(f"DROP TABLE IF EXISTS `{database}`.`{table}`")


# ---------------------------------------------------------------------------
# Factory option surface (DorisDataSinkFactory / DorisDataSinkOptions)
# ---------------------------------------------------------------------------

REQUIRED_OPTIONS = ("fenodes", "username")
OPTIONAL_OPTIONS = (
    "benodes",
    "jdbc-url",
    "password",
    "auto-redirect",
    "charset-encoding",
    "sink.check-interval",
    "sink.enable-2pc",
    "sink.max-retries",
    "sink.enable-delete",
    "sink.label-prefix",
    "sink.buffer-size",
    "sink.buffer-count",
    "sink.enable.batch-mode",
    "sink.buffer-flush.max-rows",
    "sink.buffer-flush.max-bytes",
    "sink.flush.queue-size",
    "sink.buffer-flush.interval",
    "sink.ignore.update-before",
    "sink.use-cache",
)
_PREFIX_OPTIONS = ("table.create.properties.", "table.create.auto-partition.")


@dataclass
class DorisSinkOptions:
    fenodes: str
    username: str
    password: str = ""
    benodes: Optional[str] = None
    jdbc_url: Optional[str] = None
    auto_redirect: bool = False
    label_prefix: str = ""
    enable_delete: bool = True
    buffer_flush_max_rows: int = 50000
    table_properties: dict = None


def validate_doris_options(config: dict) -> DorisSinkOptions:
    missing = [k for k in REQUIRED_OPTIONS if k not in config]
    if missing:
        raise ValueError(f"doris sink: missing required option(s): {missing}")
    table_props = {}
    for key in config:
        if any(key.startswith(p) for p in _PREFIX_OPTIONS):
            table_props[key.split(".", 3)[-1]] = str(config[key])
            continue
        if key in ("type",) or key in REQUIRED_OPTIONS or key in OPTIONAL_OPTIONS:
            continue
        raise ValueError(f"doris sink: unknown option {key!r}")
    truthy = ("true", "1", "yes")
    return DorisSinkOptions(
        fenodes=str(config["fenodes"]),
        username=str(config["username"]),
        password=str(config.get("password", "")),
        benodes=config.get("benodes"),
        jdbc_url=config.get("jdbc-url"),
        auto_redirect=str(config.get("auto-redirect", "false")).lower() in truthy,
        label_prefix=str(config.get("sink.label-prefix", "")),
        enable_delete=str(config.get("sink.enable-delete", "true")).lower() in truthy,
        buffer_flush_max_rows=int(config.get("sink.buffer-flush.max-rows", 50000)),
        table_properties=table_props,
    )
