"""Parquet table -> changelog source.

Plays the role of the reference's snapshot phase (the values/JDBC source
emitting CreateTableEvent + an insert-only changelog; SURVEY.md §2.3): a
parquet table is read as the snapshot image and wrapped in the envelope.

Optionally synthesizes a deterministic mutation tail (UPDATE/DELETE events
keyed by primary key; FIXTURES.md F4) so downstream operators exercise
changelog semantics (update splitting, last-per-key materialization). The
mutation recipe is pure column arithmetic on the key — SQL-expressible, so
a DuckDB oracle can reproduce the exact final state.

The table is scanned once, and the plan is SQL text
(``core/sql_text.py``): one ``selectExpr`` normalizes TIMESTAMP(NANOS)
columns, one ``inline`` generator emits each row's INSERT and, where the
key selects them, its UPDATE and DELETE (whose before image is the
updated one when both apply), a ``where`` drops the events a row does not
have, and one ``selectExpr`` builds the envelope. ``__seq`` is
``monotonically_increasing_id()`` over the generator's rows plus a band
per op — 0 for INSERT, ``1 << 41`` for UPDATE, ``1 << 42`` for DELETE —
so every key's events order as INSERT < UPDATE < DELETE, and a consumer
can split a changelog at a band.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..core.sql_text import named_struct, quote, sql_type
from .envelope import (
    ENVELOPE_OP,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    envelope_sql,
    wrap_as_inserts,
)

UPDATE_BAND = 1 << 41
DELETE_BAND = 1 << 42


def _nanos_timestamp_columns(path: str) -> set:
    """Columns stored as parquet TIMESTAMP(NANOS) (pyarrow timestamp[ns]).
    A directory table is read through its first ``*.parquet`` file."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                                     recursive=True))
            if not files:
                return set()
            path = files[0]
        schema = pq.read_schema(path)
    except Exception:
        return set()
    return {f.name for f in schema if str(f.type).startswith("timestamp[ns")}


@dataclass
class MutationSpec:
    """Deterministic mutation tail derived from the snapshot rows.

    For rows where key % update_mod == update_rem: emit an UPDATE that
    applies `update_exprs` (SQL expr strings over the payload columns).
    For rows where key % delete_mod == delete_rem: emit a DELETE.
    A row can receive both (update then delete; delete sequences later).
    """

    key_column: str
    update_mod: int = 10
    update_rem: int = 3
    update_exprs: dict = None  # column -> SQL expression over original values
    delete_mod: int = 20
    delete_rem: int = 7

    def oracle_final_state_sql(self, table: str, columns: list) -> str:
        """DuckDB SQL computing the exact post-changelog state."""
        sets = self.update_exprs or {}
        key = _duck_quote(self.key_column)
        proj = ", ".join(
            f"CASE WHEN ({key} % {self.update_mod}) = {self.update_rem} "
            f"THEN ({sets[c]}) ELSE {_duck_quote(c)} END AS {_duck_quote(c)}"
            if c in sets else _duck_quote(c)
            for c in columns
        )
        return (
            f"SELECT {proj} FROM {table} "
            f"WHERE ({key} % {self.delete_mod}) <> {self.delete_rem}"
        )


def _duck_quote(name: str) -> str:
    """``name`` as a DuckDB (double-quoted) identifier."""
    return '"' + name.replace('"', '""') + '"'


def _with_tail(df: DataFrame, table_id: str, spec: MutationSpec) -> DataFrame:
    """``df``'s rows as INSERTs followed by ``spec``'s tail, from one scan:
    each row's events come out of one ``inline`` generator, and a
    DELETE's before image is the updated one when the row was also
    updated."""
    payload = df.schema
    image = named_struct((c, quote(c)) for c in payload.fieldNames())
    sets = spec.update_exprs or {}
    updated = named_struct(
        (f.name, f"CAST(({sets[f.name]}) AS {sql_type(f.dataType)})"
         if f.name in sets else quote(f.name))
        for f in payload.fields
    )
    absent = f"CAST(NULL AS {sql_type(payload)})"
    key = quote(spec.key_column)
    is_update = f"{key} % {spec.update_mod} = {spec.update_rem}"
    is_delete = f"{key} % {spec.delete_mod} = {spec.delete_rem}"

    def event(op: str, before: str, after: str) -> str:
        return named_struct(((ENVELOPE_OP, f"'{op}'"), ("before", before),
                             ("after", after)))

    deleted = f"CASE WHEN {is_update} THEN {updated} ELSE {image} END"
    op = quote(ENVELOPE_OP)
    return df.selectExpr(
        f"inline(array({event(OP_INSERT, absent, image)}, "
        f"CASE WHEN {is_update} THEN {event(OP_UPDATE, image, updated)} END, "
        f"CASE WHEN {is_delete} THEN {event(OP_DELETE, deleted, absent)} END))"
    ).where(f"{op} IS NOT NULL").selectExpr(*envelope_sql(
        table_id, op, "`before`", "`after`",
        f"monotonically_increasing_id() + CASE {op} "
        f"WHEN '{OP_UPDATE}' THEN {UPDATE_BAND} "
        f"WHEN '{OP_DELETE}' THEN {DELETE_BAND} ELSE 0 END",
    ))


class ParquetTableSource:
    """Reads `{sf_dir}/{table}.parquet` as a changelog envelope."""

    def __init__(self, spark: SparkSession, sf_dir: str, pin_utc: bool = True):
        """pin_utc: the engine's convention is that naive timestamps are
        UTC (session.py sets it globally; the DuckDB oracle assumes it).
        Sessions built elsewhere may carry another zone, so by default the
        source pins UTC — pass pin_utc=False to leave foreign sessions
        untouched (results then depend on the ambient zone)."""
        self.spark = spark
        self.sf_dir = sf_dir
        if pin_utc and spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def snapshot(self, table: str) -> DataFrame:
        path = f"{self.sf_dir}/{table}.parquet"
        nanos_cols = _nanos_timestamp_columns(path)
        if nanos_cols:
            # runtime-settable SQL conf; required to read TIMESTAMP(NANOS)
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(path)
        if nanos_cols:
            # nanos were read as long (spark.sql.legacy.parquet.nanosAsLong);
            # normalize to micros TIMESTAMP_NTZ, matching DuckDB's cast
            df = df.selectExpr(*[
                f"CAST(timestamp_micros({quote(c)} div 1000) AS timestamp_ntz) AS {quote(c)}"
                if c in nanos_cols else quote(c)
                for c in df.columns
            ])
        return df

    def changelog(
        self,
        table: str,
        table_id: Optional[str] = None,
        mutations: Optional[MutationSpec] = None,
    ) -> DataFrame:
        tid = table_id or f"default.{table}"
        df = self.snapshot(table)
        if mutations is None:
            return wrap_as_inserts(df, tid)
        return _with_tail(df, tid, mutations)


def read_table_as_changelog(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    table_id: Optional[str] = None,
    mutations: Optional[MutationSpec] = None,
) -> DataFrame:
    return ParquetTableSource(spark, sf_dir).changelog(table, table_id, mutations)
