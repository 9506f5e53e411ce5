"""Iceberg table-format analog: snapshot / manifest / field-id metadata
model over the LSM store's commit files, no catalog jars required.

Reference: pipeline-connector-iceberg (IcebergMetadataApplier drives
CreateTable/Add/Drop/Rename/AlterType onto an Iceberg catalog;
IcebergEventSink commits WriteResults per checkpoint = one Iceberg
snapshot per flush barrier). The metadata implemented here is the public
Iceberg v2 spec the reference relies on:

  * **Immutable, versioned table metadata** — `metadata/v{N}.metadata.json`
    plus `version-hint.text` (the HadoopCatalog commit protocol): every
    commit or schema change writes a NEW metadata version; old versions
    stay readable forever.
  * **Snapshots** — each data commit appends a snapshot (id, sequence
    number, schema-id, manifest list, summary counts). Time travel =
    reading an old snapshot's manifests with the schema that snapshot
    recorded.
  * **Field-id based schema evolution** — columns are tracked by field id,
    not name. RENAME changes only the name bound to an id, so data files
    written before the rename resolve correctly with zero rewrites; ADD
    assigns a fresh id (`last-column-id`); DROP removes the binding (old
    file columns become unreferenced).
  * **Equality deletes (v2 row-level deletes)** — a commit carrying
    UPDATE/DELETE changes writes an equality-delete file on the key
    columns, keyed on ``coalesce(before.k, after.k)``; a delete applies
    to data rows with a STRICTLY LOWER data sequence number, so an
    update's insert (same sequence) survives its own delete entry.

The data path is the LSM store's (``lsm_store.py``): a data file is a
commit file of the batch's last image per key (``write_commit``), and a
delete file is read as tombstone rows at its snapshot's sequence number.
Their ``__seq`` is null, which sorts last under the merge's ``__seq
desc``: a data row at the same sequence number outranks the delete, which
is the v2 "strictly lower" rule. The read is one union of the referenced
files projected by field id and one ``merge_commits`` window keyed by the
identifier fields. Post-write counts and partition values are observed on
the write itself. DDL never touches a data file.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..core.sql_text import quote
from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    OP_DELETE,
    OP_UPDATE,
    row_image,
)
from .lsm_store import (
    TOMBSTONE,
    base_rows,
    live_rows,
    merge_commits,
    newest_first,
    project,
    read_commit_file,
    read_json,
    write_commit,
    write_json,
)


class IcebergTableStore:
    """One Iceberg-style table per sink table under `root/<table>/`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- paths / metadata versions ----------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table.replace("/", "_"))

    def _meta_dir(self, table: str) -> str:
        return os.path.join(self._dir(table), "metadata")

    def _hint_path(self, table: str) -> str:
        return os.path.join(self._meta_dir(table), "version-hint.text")

    def _load(self, table: str) -> Optional[dict]:
        hint = self._hint_path(table)
        if not os.path.exists(hint):
            return None
        v = read_json(hint)
        meta = read_json(os.path.join(self._meta_dir(table), f"v{v}.metadata.json"))
        meta["_version"] = v
        return meta

    def _load_existing(self, table: str) -> dict:
        meta = self._load(table)
        if meta is None:
            raise ValueError(f"iceberg table {table} does not exist")
        return meta

    def _store(self, table: str, meta: dict) -> int:
        """Write the next immutable metadata version and flip the hint —
        the HadoopTableOperations commit (version file + version-hint)."""
        d = self._meta_dir(table)
        os.makedirs(d, exist_ok=True)
        v = meta.pop("_version", 0) + 1
        write_json(os.path.join(d, f"v{v}.metadata.json"), meta, indent=1)
        write_json(self._hint_path(table), v)
        return v

    # -- schema encoding (field ids) ---------------------------------------
    @staticmethod
    def _struct_from_fields(fields: List[dict]) -> T.StructType:
        return T.StructType([
            T.StructField(
                f["name"], T._parse_datatype_json_string(f["type"]),
                not f["required"],
            )
            for f in fields
        ])

    def _current_schema(self, meta: dict, schema_id=None) -> dict:
        """The schema ``schema_id`` (default: the current one)."""
        if schema_id is None:
            schema_id = meta["current-schema-id"]
        return next(s for s in meta["schemas"] if s["schema-id"] == schema_id)

    # -- table lifecycle ----------------------------------------------------
    def create_table(
        self,
        table: str,
        struct: T.StructType,
        primary_keys: Sequence[str],
        partition_keys: Sequence[str] = (),
        properties: Optional[dict] = None,
    ) -> None:
        """``partition_keys`` (the Iceberg `partition.key` sink option):
        an identity partition spec per the v2 metadata shape — data files
        lay out hive-partitioned, manifests record their partition
        values, and a partition predicate prunes manifests at metadata
        time. Iceberg's own rule applies: partition columns must be
        immutable per key.

        ``properties`` (the `table.properties.` prefix surface of
        IcebergDataSinkOptions): stored verbatim in the v2 metadata
        `properties` map at creation."""
        if self._load(table) is not None:
            return
        fields = [
            {"id": i, "name": f.name, "type": f.dataType.json(),
             "required": not f.nullable}
            for i, f in enumerate(struct.fields, 1)
        ]
        name_to_id = {f["name"]: f["id"] for f in fields}
        meta = {
            "format-version": 2,
            "table": table,
            "last-column-id": len(fields),
            "schemas": [{"schema-id": 0, "fields": fields}],
            "current-schema-id": 0,
            # identifier-field-ids: the PK, by field id (spec's term)
            "identifier-field-ids": [name_to_id[k] for k in primary_keys],
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "source-id": name_to_id[k],
                            "field-id": 1000 + i,
                            "name": k,
                            "transform": "identity",
                        }
                        for i, k in enumerate(partition_keys)
                        if k in name_to_id
                    ],
                }
            ],
            "default-spec-id": 0,
            "properties": dict(properties or {}),
            "snapshots": [],
            "current-snapshot-id": None,
            "last-sequence-number": 0,
            "snapshot-log": [],
            "_version": 0,
        }
        self._store(table, meta)

    def _partition_names(self, meta: dict) -> List[str]:
        """Current partition columns, resolved by source field id (renames
        of the source column follow automatically)."""
        name_by_id = {
            f["id"]: f["name"] for f in self._current_schema(meta)["fields"]
        }
        return [
            name_by_id[f["source-id"]]
            for spec in meta["partition-specs"]
            if spec["spec-id"] == meta["default-spec-id"]
            for f in spec["fields"]
            if f["source-id"] in name_by_id
        ]

    # -- write path ----------------------------------------------------------
    def _keys(self, meta: dict, schema: dict) -> List[str]:
        """The identifier (primary-key) columns, named as in ``schema``."""
        ids = meta["identifier-field-ids"]
        return [f["name"] for f in schema["fields"] if f["id"] in ids]

    def _write(self, table: str, name: str, rows: DataFrame, keys, parts,
               counted) -> dict:
        """Write one commit file under ``data/``, hive-partitioned on the
        identity spec, and return what its manifest records: the relative
        path, the schema it was written with, the number of ``counted``
        rows and, per partition column, the distinct values of those rows
        — observed on the write."""
        path = os.path.join(self._dir(table), "data", name)
        got = write_commit(
            rows, path, [quote(k) for k in keys],
            [f"{quote(ENVELOPE_SEQ)} DESC"], parts,
            [F.count_if(counted).alias("__n")] + [
                F.collect_set(F.when(counted, F.col(p))).alias(p) for p in parts
            ],
        )
        # str() on the driver, as read() compares the predicate's values
        return {
            "file": os.path.relpath(path, self._dir(table)),
            "schema": rows.schema.json(),
            "records": got["__n"],
            "values": {p: sorted(map(str, got[p])) for p in parts} or None,
        }

    def _manifest(self, meta: dict, seq: int, data: dict,
                  deletes: Optional[dict] = None) -> dict:
        cur = self._current_schema(meta)
        return {
            "sequence-number": seq,
            "schema-id": cur["schema-id"],
            # names written by this file, bound to field ids (the reader
            # resolves columns by id, so later renames cost nothing)
            "name-to-id": {f["name"]: f["id"] for f in cur["fields"]},
            "data-file": data["file"],
            "delete-file": deletes and deletes["file"],
            # each file's written schema: the read opens it with that
            # schema, so no inference job runs and partition values keep
            # their column's type
            "data-schema": data["schema"],
            "delete-schema": deletes and deletes["schema"],
            "equality-ids": list(meta["identifier-field-ids"]),
            # identity-partition value summaries for metadata pruning
            "partition-values": data["values"],
            "delete-partition-values": deletes and deletes["values"],
        }

    def _append(self, table: str, meta: dict, seq: int, manifests,
                summary: dict) -> int:
        """Append snapshot ``seq`` (its id is its sequence number) and make
        it current — the one snapshot-append behind commit, compact and
        truncate."""
        meta["snapshots"].append(
            {
                "snapshot-id": seq,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "schema-id": meta["current-schema-id"],
                "manifests": manifests,
                "summary": summary,
            }
        )
        meta["current-snapshot-id"] = seq
        meta["last-sequence-number"] = seq
        meta["snapshot-log"].append({"snapshot-id": seq})
        self._store(table, meta)
        return seq

    def commit(self, table: str, env: DataFrame, target_struct: T.StructType) -> int:
        """One envelope batch -> one snapshot: a data file of the batch's
        last image per key (a key whose last op is DELETE writes a
        tombstone: the equality delete only reaches strictly-lower
        sequences, so a surviving same-commit row would outlive it) + an
        equality-delete file for keys whose previous version dies (UPDATE
        old image, DELETE). Returns the new snapshot id. O(batch): nothing
        existing is read or rewritten."""
        meta = self._load_existing(table)
        cur = self._current_schema(meta)
        payload = [f["name"] for f in cur["fields"]]
        keys = self._keys(meta, cur)
        parts = [p for p in self._partition_names(meta) if p in payload]
        seq = meta["last-sequence-number"] + 1
        img = row_image()
        data = self._write(
            table, f"data-{seq:08d}",
            env.select(
                *[img[c].alias(c) for c in payload],
                (F.col(ENVELOPE_OP) == OP_DELETE).alias(TOMBSTONE),
                F.col(ENVELOPE_SEQ),
            ),
            keys, parts, ~F.col(TOMBSTONE),
        )
        # the delete file carries the dying image's partition values: a
        # batch may write rows in one partition while deleting keys in
        # another, so delete-file pruning must use its OWN values
        dying = env.where(F.col(ENVELOPE_OP).isin(OP_DELETE, OP_UPDATE)).select(
            *[
                F.coalesce(F.col("before")[c], F.col("after")[c]).alias(c)
                for c in dict.fromkeys(keys + parts)
            ],
            F.lit(True).alias(TOMBSTONE),
            F.lit(None).cast("long").alias(ENVELOPE_SEQ),
        )
        deletes = self._write(
            table, f"eq-delete-{seq:08d}", dying, keys, parts, F.col(TOMBSTONE)
        )
        if not deletes["records"]:
            shutil.rmtree(os.path.join(self._dir(table), deletes["file"]))
            deletes = None
        prev = self._snapshot(meta, meta["current-snapshot-id"])
        return self._append(
            table, meta, seq,
            (prev["manifests"] if prev else []) + [
                self._manifest(meta, seq, data, deletes)
            ],
            {
                "operation": "overwrite" if deletes else "append",
                "added-records": data["records"],
                "equality-delete-records": deletes["records"] if deletes else 0,
            },
        )

    def _snapshot(self, meta: dict, snapshot_id) -> Optional[dict]:
        if snapshot_id is None:
            return None
        for s in meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"unknown snapshot {snapshot_id}")

    # -- read path -----------------------------------------------------------
    def read(
        self, table: str, snapshot_id=None, predicate: Optional[dict] = None
    ) -> Optional[DataFrame]:
        """State at a snapshot (default: current). Columns resolve by field
        id against the schema the snapshot recorded; data and delete files
        merge in one window per identifier, where a delete wins only over
        strictly-lower data sequence numbers.

        ``predicate`` ({partition-column: value}) prunes at METADATA time:
        manifests whose recorded partition-value summaries cannot match
        are skipped before any file IO (data files by their own values,
        delete files by the dying keys' values), and the residual filter
        also reaches the hive-partitioned parquet listing. Sound under
        Iceberg's partition-immutability rule."""
        meta = self._load(table)
        if meta is None:
            return None
        snap = self._snapshot(
            meta,
            snapshot_id if snapshot_id is not None else meta["current-snapshot-id"],
        )
        # head reads use the table's CURRENT schema; an explicit time-travel
        # read binds to the schema the snapshot recorded (Iceberg spec:
        # "schema-id" on the snapshot) — so a rename is visible at head but
        # an old snapshot still reads under its own column names
        if snapshot_id is None or snap is None:
            schema = self._current_schema(meta)
        else:
            schema = self._current_schema(meta, snap["schema-id"])
        read_struct = self._struct_from_fields(schema["fields"])
        ddir = self._dir(table)

        def scan(file: str, writer_names: Dict[str, int],
                 written: Optional[str]) -> DataFrame:
            by_id = {i: n for n, i in writer_names.items()}
            df = project(
                read_commit_file(self.spark, os.path.join(ddir, file), written),
                read_struct,
                {f["name"]: by_id.get(f["id"]) for f in schema["fields"]},
            )
            # filtered under the read schema's names, so a file written
            # before a partition column's rename is filtered too; the
            # filter still reaches the parquet listing as a partition filter
            for col, want in (predicate or {}).items():
                if col in df.columns:
                    df = df.where(F.col(col) == F.lit(want))
            return df

        def prunable(values: Optional[dict]) -> bool:
            """True when the predicate proves this file irrelevant."""
            return bool(predicate and values) and any(
                col in values and str(want) not in values[col]
                for col, want in predicate.items()
            )

        parts = [
            (scan(mf[file], mf["name-to-id"], mf.get(written)),
             mf["sequence-number"])
            for mf in (snap["manifests"] if snap else [])
            # data and delete files prune INDEPENDENTLY: a manifest may
            # write partition X while its delete file kills keys in Y
            for file, written, values in (
                ("data-file", "data-schema", "partition-values"),
                ("delete-file", "delete-schema", "delete-partition-values"),
            )
            if mf[file] and not prunable(mf[values])
        ]
        if not parts:  # no snapshot, truncated, or every file pruned
            return self.spark.createDataFrame([], read_struct)
        return live_rows(
            merge_commits(parts, [quote(k) for k in self._keys(meta, schema)],
                          *newest_first()),
            read_struct.fieldNames(),
        )

    def compact(self, table: str) -> int:
        """Binpack-style compaction (the connector's `sink.compaction.*`
        surface / Iceberg rewrite_data_files): materialize the current
        merged state into ONE consolidated data file and commit it as a
        `replace` snapshot with a single manifest and no delete file —
        read amplification drops from O(commits) manifests to 1. Older
        snapshots keep their original manifests, so time travel across
        the compaction still works. Metadata-only for readers: the
        replace snapshot's content EQUALS the pre-compaction read."""
        meta = self._load_existing(table)
        state = self.read(table)
        seq = meta["last-sequence-number"] + 1
        parts = [p for p in self._partition_names(meta) if p in state.columns]
        data = self._write(
            table, f"compact-{seq:08d}", base_rows(state), (), parts,
            ~F.col(TOMBSTONE),
        )
        return self._append(
            table, meta, seq, [self._manifest(meta, seq, data)],
            {"operation": "replace", "added-records": data["records"]},
        )

    def truncate(self, table: str) -> None:
        """TRUNCATE TABLE as a delete-all snapshot: a new snapshot with an
        EMPTY manifest list (operation "delete"). Data files stay on disk,
        referenced by older snapshots — time travel across the truncate
        still works, exactly like an Iceberg `DELETE FROM t` commit."""
        meta = self._load_existing(table)
        self._append(
            table, meta, meta["last-sequence-number"] + 1, [],
            {"operation": "delete", "added-records": 0},
        )

    def snapshots(self, table: str) -> List[dict]:
        meta = self._load(table)
        return list(meta["snapshots"]) if meta else []

    def metadata_versions(self, table: str) -> List[str]:
        d = self._meta_dir(table)
        return sorted(
            f for f in os.listdir(d) if f.endswith(".metadata.json")
        ) if os.path.isdir(d) else []

    # -- schema evolution (metadata-only, field-id based) --------------------
    def _evolve(self, table: str, mutate) -> None:
        """Append a new current schema: ``mutate(meta, fields)`` returns the
        new field list (it may also edit ``meta``)."""
        meta = self._load_existing(table)
        fields = mutate(meta, self._current_schema(meta)["fields"])
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append({"schema-id": new_id, "fields": fields})
        meta["current-schema-id"] = new_id
        self._store(table, meta)

    def add_column(
        self, table: str, name: str, dt: T.DataType, nullable: bool = True
    ) -> None:
        def mutate(meta, fields):
            meta["last-column-id"] += 1
            return fields + [{"id": meta["last-column-id"], "name": name,
                              "type": dt.json(), "required": not nullable}]

        self._evolve(table, mutate)

    def rename_column(self, table: str, old: str, new: str) -> None:
        self._evolve(table, lambda meta, fields: [
            {**f, "name": new} if f["name"] == old else f for f in fields
        ])

    def drop_column(self, table: str, name: str) -> None:
        def mutate(meta, fields):
            gone = {f["id"] for f in fields if f["name"] == name}
            meta["identifier-field-ids"] = [
                i for i in meta["identifier-field-ids"] if i not in gone
            ]
            return [f for f in fields if f["id"] not in gone]

        self._evolve(table, mutate)

    def alter_column_type(self, table: str, name: str, dt: T.DataType) -> None:
        self._evolve(table, lambda meta, fields: [
            {**f, "type": dt.json()} if f["name"] == name else f for f in fields
        ])


class IcebergMetadataApplier:
    """MetadataApplier contract (common/sink/MetadataApplier.java:33-39)
    bound to the store: applies SchemaChangeEvents as metadata versions and
    records the equivalent catalog DDL via sinks/lake.py's generator (the
    SQL a bound catalog would run)."""

    def __init__(self, store: IcebergTableStore):
        self.store = store
        self.applied_sql: List[str] = []

    def apply_schema_change(self, table: str, event) -> None:
        from ..core.events import (
            AddColumnEvent,
            AlterColumnTypeEvent,
            CreateTableEvent,
            DropColumnEvent,
            RenameColumnEvent,
            TruncateTableEvent,
        )
        from ..core.types import to_spark_type
        from .lake import schema_change_to_ddl

        self.applied_sql.extend(schema_change_to_ddl(table, event))
        if isinstance(event, CreateTableEvent):
            self.store.create_table(
                table,
                event.schema.to_spark_struct(),
                list(event.schema.primary_keys),
            )
        elif isinstance(event, AddColumnEvent):
            for cwp in event.added_columns:
                self.store.add_column(
                    table,
                    cwp.column.name,
                    to_spark_type(cwp.column.type),
                    nullable=True,
                )
        elif isinstance(event, RenameColumnEvent):
            for old, new in event.name_mapping:
                self.store.rename_column(table, old, new)
        elif isinstance(event, DropColumnEvent):
            for name in event.dropped_column_names:
                self.store.drop_column(table, name)
        elif isinstance(event, AlterColumnTypeEvent):
            for name, dt in event.type_mapping:
                self.store.alter_column_type(table, name, to_spark_type(dt))
        elif isinstance(event, TruncateTableEvent):
            self.store.truncate(table)
        else:
            raise ValueError(f"unsupported schema change {type(event).__name__}")
