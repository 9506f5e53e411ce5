"""JDBC warehouse sink: real DDL + real MERGE INTO against a live database.

The Spark rendition of the reference's warehouse sinks
(pipeline-connector-doris/.../DorisDataSink.java, pipeline-connector-
starrocks/.../StarRocksDataSink.java): a changelog-consuming sink whose
MetadataApplier executes schema changes as actual DDL on the target
database, and whose writer lands each batch with upsert semantics. Where
Doris/StarRocks take stream-load HTTP batches, the JDBC shape is:

  1. reduce the envelope batch to last-image-per-key (Spark side — one
     keyed shuffle of the *batch*, not the table);
  2. stage the reduced rows through executor-side ``df.write.jdbc``
     (parallel INSERTs into ``<table>__STG``);
  3. one ``MERGE INTO target USING staging`` statement applies
     UPDATE/DELETE/INSERT atomically (DELETE branch from the op column);
  4. truncate staging.

Per-batch cost is O(batch) Spark work + one MERGE whose cost the database
amortizes via the PK index — the standard warehouse-sink contract. The
test/reference endpoint is embedded Derby (same zero-dependency JDBC
endpoint as sources/jdbc_live.py); the SQL is ANSI MERGE, so a real
warehouse URL slots in unchanged.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.events import (
    AddColumnEvent,
    CreateTableEvent,
    DropColumnEvent,
    RenameColumnEvent,
    TruncateTableEvent,
)
from ..core.schema import Schema
from ..core.sql_text import quote
from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    OP_DELETE,
    first_per_key,
    row_image,
)
from ..sources.jdbc_live import DERBY_DRIVER, JdbcEndpoint

_STG_SUFFIX = "__STG"


def _sql_type(t) -> str:
    """CDC type -> ANSI/Derby column type."""
    root = t.root
    m = {
        "BOOLEAN": "BOOLEAN", "TINYINT": "SMALLINT", "SMALLINT": "SMALLINT",
        "INT": "INTEGER", "BIGINT": "BIGINT", "FLOAT": "REAL",
        "DOUBLE": "DOUBLE", "DATE": "DATE", "TIME": "TIME",
        "TIMESTAMP": "TIMESTAMP",
    }
    if root == "DECIMAL":
        return f"DECIMAL({t.precision},{t.scale})"
    if root in ("CHAR", "VARCHAR"):
        length = getattr(t, "length", None)
        if not length or length >= 0x7FFFFFFF:
            return "VARCHAR(4000)"
        return f"VARCHAR({max(int(length), 1)})"
    return m.get(root, "VARCHAR(4000)")


class JdbcWarehouseSink:
    """Changelog sink executing real DDL and real MERGE on a JDBC target."""

    def __init__(self, spark: SparkSession, url: str):
        self.spark = spark
        self.url = url
        self.ep = JdbcEndpoint(spark, url)
        self._props = {"driver": DERBY_DRIVER}
        # exactly-once ledger: (table, batch_id) recorded in the SAME
        # transaction as the MERGE, so a replayed micro-batch (foreachBatch
        # redelivery after failure) is detected and skipped — the JDBC
        # rendition of the reference sinks' two-phase/label dedup (e.g.
        # Doris stream-load labels)
        try:
            self.ep.execute(
                "CREATE TABLE CDC_COMMITS (TABLE_NAME VARCHAR(128) NOT NULL, "
                "BATCH_ID BIGINT NOT NULL, PRIMARY KEY (TABLE_NAME, BATCH_ID))"
            )
        except Exception:
            pass  # already exists

    def is_committed(self, table_id, batch_id: int) -> bool:
        t = self._table_name(table_id)
        [(n,)] = self.ep.query(
            f"SELECT COUNT(*) FROM CDC_COMMITS "
            f"WHERE TABLE_NAME = '{t}' AND BATCH_ID = {int(batch_id)}"
        )
        return int(n) > 0

    # -- MetadataApplier (common/sink/MetadataApplier.java:33-39) ----------
    def _table_name(self, table_id) -> str:
        return str(table_id).split(".")[-1].upper()

    def apply_schema_change(self, event) -> None:
        """Execute the schema change as real DDL on the warehouse —
        DorisMetadataApplier/StarRocksMetadataApplier scope."""
        t = self._table_name(event.table_id)
        if isinstance(event, CreateTableEvent):
            cols = ", ".join(
                f"{c.name.upper()} {_sql_type(c.type)}"
                + ("" if c.type.nullable else " NOT NULL")
                for c in event.schema.columns
            )
            pk = ""
            if event.schema.primary_keys:
                pk = ", PRIMARY KEY (" + ", ".join(
                    k.upper() for k in event.schema.primary_keys
                ) + ")"
            self.ep.execute(f"CREATE TABLE {t} ({cols}{pk})")
            stg_cols = ", ".join(
                f"{c.name.upper()} {_sql_type(c.type)}" for c in event.schema.columns
            )
            self.ep.execute(f"CREATE TABLE {t}{_STG_SUFFIX} ({stg_cols}, OP_FLAG CHAR(1))")
        elif isinstance(event, AddColumnEvent):
            for cp in event.added_columns:
                col = f"{cp.column.name.upper()} {_sql_type(cp.column.type)}"
                self.ep.execute(f"ALTER TABLE {t} ADD COLUMN {col}")
                self.ep.execute(f"ALTER TABLE {t}{_STG_SUFFIX} ADD COLUMN {col}")
        elif isinstance(event, RenameColumnEvent):
            for old, new in event.name_mapping:
                self.ep.execute(f"RENAME COLUMN {t}.{old.upper()} TO {new.upper()}")
                self.ep.execute(
                    f"RENAME COLUMN {t}{_STG_SUFFIX}.{old.upper()} TO {new.upper()}"
                )
        elif isinstance(event, DropColumnEvent):
            for name in event.dropped_column_names:
                self.ep.execute(f"ALTER TABLE {t} DROP COLUMN {name.upper()}")
                self.ep.execute(f"ALTER TABLE {t}{_STG_SUFFIX} DROP COLUMN {name.upper()}")
        elif isinstance(event, TruncateTableEvent):
            self.ep.execute(f"TRUNCATE TABLE {t}")
        else:
            raise ValueError(f"unsupported schema change for JDBC sink: {event!r}")

    # -- writer ------------------------------------------------------------
    def write_batch(
        self, table_id, env: DataFrame, schema: Schema, batch_id: Optional[int] = None
    ) -> None:
        """Land one changelog batch: Spark-side last-image-per-key, stage
        via executor JDBC, one MERGE, clear staging.

        With a ``batch_id``, delivery is exactly-once: an already-committed
        id is skipped; staging is cleared *before* loading (a crashed
        half-staged attempt leaves garbage that must not merge twice); and
        the MERGE + ledger insert run in one database transaction, so
        either both happen or neither."""
        t = self._table_name(table_id)
        stg = f"{t}{_STG_SUFFIX}"
        if batch_id is not None and self.is_committed(table_id, batch_id):
            return
        self.ep.execute(f"TRUNCATE TABLE {stg}")  # clear partial prior attempt
        cols = [c.name for c in schema.columns]
        pks = [k for k in schema.primary_keys]
        if not pks:
            raise ValueError(f"JDBC warehouse sink requires primary keys for {table_id}")

        img = row_image()
        rows = env.select(
            *[img[c].alias(c) for c in cols],
            F.when(F.col(ENVELOPE_OP) == OP_DELETE, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("__op_flag"),
            F.col(ENVELOPE_SEQ).alias("__seq_tmp"),
        )
        reduced = first_per_key(rows, [quote(k) for k in pks], "`__seq_tmp` DESC").select(
            *[F.col(c).alias(c.upper()) for c in cols],
            F.col("__op_flag").alias("OP_FLAG"),
        )
        # executor-side parallel staging INSERTs
        reduced.write.jdbc(self.url, stg, mode="append", properties=self._props)
        on = " AND ".join(f"t.{k.upper()} = s.{k.upper()}" for k in pks)
        sets = ", ".join(
            f"{c.upper()} = s.{c.upper()}" for c in cols if c not in pks
        )
        ins_cols = ", ".join(c.upper() for c in cols)
        ins_vals = ", ".join(f"s.{c.upper()}" for c in cols)
        update_branch = (
            f"WHEN MATCHED AND s.OP_FLAG = 'D' THEN DELETE "
            + (f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else "")
        )
        merge_sql = (
            f"MERGE INTO {t} t USING {stg} s ON {on} "
            + update_branch
            + f"WHEN NOT MATCHED AND s.OP_FLAG <> 'D' THEN INSERT ({ins_cols}) "
            f"VALUES ({ins_vals})"
        )
        if batch_id is not None:
            self.ep.transaction(
                [
                    merge_sql,
                    f"INSERT INTO CDC_COMMITS (TABLE_NAME, BATCH_ID) "
                    f"VALUES ('{t}', {int(batch_id)})",
                ]
            )
        else:
            self.ep.execute(merge_sql)
        self.ep.execute(f"TRUNCATE TABLE {stg}")

    # -- reading back (tests / contract) -----------------------------------
    def read_table(self, table_id, num_partitions: Optional[int] = None) -> DataFrame:
        t = self._table_name(table_id)
        df = self.spark.read.jdbc(self.url, t, properties=self._props)
        return df.toDF(*[c.lower() for c in df.columns])
