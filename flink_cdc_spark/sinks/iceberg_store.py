"""Iceberg table-format analog: snapshot / manifest / field-id metadata
model executed natively on parquet, no catalog jars required.

Reference: pipeline-connector-iceberg (IcebergMetadataApplier drives
CreateTable/Add/Drop/Rename/AlterType onto an Iceberg catalog;
IcebergEventSink commits WriteResults per checkpoint = one Iceberg
snapshot per flush barrier). The storage semantics implemented here are
the public Iceberg v2 spec concepts the reference relies on:

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
    columns; a delete applies to data rows with a STRICTLY LOWER data
    sequence number, so an update's insert (same sequence) survives its
    own delete entry.

Spark-first: a commit's data file is the batch's last image per key
(``materialize_changelog``); the read path is one union of referenced
data files, one keyed anti-condition join against the (small) delete set,
and one ``first_per_key`` window for the highest data sequence per key —
all shuffles keyed by primary key, no driver rows. DDL never touches a
data file.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..sources.envelope import ENVELOPE_OP, OP_DELETE, OP_UPDATE, first_per_key
from .materialize import materialize_changelog

_SEQ = "__ice_seq"  # data sequence number column carried inside files


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
        with open(hint) as f:
            v = int(f.read().strip())
        with open(os.path.join(self._meta_dir(table), f"v{v}.metadata.json")) as f:
            meta = json.load(f)
        meta["_version"] = v
        return meta

    def _store(self, table: str, meta: dict) -> int:
        """Write the next immutable metadata version and flip the hint —
        the HadoopTableOperations commit (version file + version-hint)."""
        d = self._meta_dir(table)
        os.makedirs(d, exist_ok=True)
        v = meta.pop("_version", 0) + 1
        path = os.path.join(d, f"v{v}.metadata.json")
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, path)  # version files are write-once
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint_path(table))
        return v

    # -- schema encoding (field ids) ---------------------------------------
    @staticmethod
    def _schema_entry(schema_id: int, fields: List[dict]) -> dict:
        return {"schema-id": schema_id, "fields": fields}

    @staticmethod
    def _fields_from_struct(struct: T.StructType, start_id: int = 1) -> List[dict]:
        return [
            {
                "id": start_id + i,
                "name": f.name,
                "type": f.dataType.json(),
                "required": not f.nullable,
            }
            for i, f in enumerate(struct.fields)
        ]

    @staticmethod
    def _struct_from_fields(fields: List[dict]) -> T.StructType:
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    T._parse_datatype_json_string(f["type"]),
                    not f["required"],
                )
                for f in fields
            ]
        )

    def _current_schema(self, meta: dict) -> dict:
        sid = meta["current-schema-id"]
        return next(s for s in meta["schemas"] if s["schema-id"] == sid)

    def _schema_by_id(self, meta: dict, schema_id: int) -> dict:
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
        fields = self._fields_from_struct(struct)
        name_to_id = {f["name"]: f["id"] for f in fields}
        meta = {
            "format-version": 2,
            "table": table,
            "last-column-id": len(fields),
            "schemas": [self._schema_entry(0, fields)],
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
        specs = {s["spec-id"]: s for s in meta.get("partition-specs", [])}
        spec = specs.get(meta.get("default-spec-id", 0))
        if not spec:
            return []
        cur = self._current_schema(meta)
        name_by_id = {f["id"]: f["name"] for f in cur["fields"]}
        return [
            name_by_id[f["source-id"]]
            for f in spec["fields"]
            if f["source-id"] in name_by_id
        ]

    # -- write path ----------------------------------------------------------
    def commit(self, table: str, env: DataFrame, target_struct: T.StructType) -> int:
        """One envelope batch -> one snapshot: a data file of after-images
        (INSERT/UPDATE/REPLACE) + an equality-delete file for keys whose
        previous version dies (UPDATE old image, DELETE). Returns the new
        snapshot id. O(batch): nothing existing is read or rewritten."""
        meta = self._load(table)
        if meta is None:
            raise ValueError(f"iceberg table {table} does not exist")
        cur = self._current_schema(meta)
        cur_struct = self._struct_from_fields(cur["fields"])
        id_by_name = {f["name"]: f["id"] for f in cur["fields"]}
        pk_names = [
            f["name"]
            for f in cur["fields"]
            if f["id"] in meta["identifier-field-ids"]
        ]

        seq = meta["last-sequence-number"] + 1
        snap_id = seq
        ddir = self._dir(table)

        # data file: last image per key within the batch — reduced over
        # ALL ops INCLUDING deletes, so a key whose final in-batch op is
        # DELETE writes no data row (the equality delete only reaches
        # strictly-lower data sequences, so a surviving same-commit row
        # would wrongly outlive it)
        payload = [f.name for f in cur_struct.fields]
        data_rows = (
            materialize_changelog(env, pk_names)
            .select(*payload)
            .withColumn(_SEQ, F.lit(seq).cast("long"))
        )
        data_path = os.path.join(ddir, "data", f"data-{snap_id:08d}.parquet")
        parts = [p for p in self._partition_names(meta) if p in payload]
        part_values = None
        if parts:
            # control-plane metadata: distinct partition values this file
            # adds (bounded by partition cardinality, not row count)
            part_values = {
                p: sorted(
                    str(r[0])
                    for r in data_rows.select(p).distinct().collect()
                    if r[0] is not None
                )
                for p in parts
            }
            data_rows.write.mode("overwrite").partitionBy(*parts).parquet(data_path)
        else:
            data_rows.write.mode("overwrite").parquet(data_path)
        added = self.spark.read.parquet(data_path).count()

        # equality-delete file: every key whose previous version dies.
        # With a partition spec, the dying keys' partition values are
        # recorded too (from the dying image — a batch may write rows in
        # one partition while deleting keys in another, so delete-file
        # pruning must use its OWN values, not the data file's).
        del_part_cols = [
            F.coalesce(
                F.col("before").getField(p), F.col("after").getField(p)
            ).alias(f"__part_{p}")
            for p in parts
        ]
        dying_full = env.where(
            F.col(ENVELOPE_OP).isin(OP_DELETE, OP_UPDATE)
        ).select(
            *[
                F.coalesce(
                    F.col("before").getField(k), F.col("after").getField(k)
                ).alias(k)
                for k in pk_names
            ],
            *del_part_cols,
        )
        delete_part_values = None
        if parts:
            delete_part_values = {
                p: sorted(
                    str(r[0])
                    for r in dying_full.select(f"__part_{p}").distinct().collect()
                    if r[0] is not None
                )
                for p in parts
            }
        dying = (
            dying_full.select(*pk_names)
            .distinct()
            .withColumn(_SEQ, F.lit(seq).cast("long"))
        )
        delete_path = None
        deleted = 0
        if dying.take(1):
            delete_path = os.path.join(
                ddir, "data", f"eq-delete-{snap_id:08d}.parquet"
            )
            dying.write.mode("overwrite").parquet(delete_path)
            deleted = self.spark.read.parquet(delete_path).count()

        manifest = {
            "sequence-number": seq,
            "schema-id": cur["schema-id"],
            # names written by this file, bound to field ids (the reader
            # resolves columns by id, so later renames cost nothing)
            "name-to-id": id_by_name,
            "data-file": os.path.relpath(data_path, ddir),
            "delete-file": (
                os.path.relpath(delete_path, ddir) if delete_path else None
            ),
            "equality-ids": list(meta["identifier-field-ids"]),
            # identity-partition value summaries for metadata pruning
            "partition-values": part_values,
            "delete-partition-values": delete_part_values,
        }
        prev = self._snapshot(meta, meta["current-snapshot-id"])
        manifests = (list(prev["manifests"]) if prev else []) + [manifest]
        meta["snapshots"].append(
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "schema-id": cur["schema-id"],
                "manifests": manifests,
                "summary": {
                    "operation": "overwrite" if deleted else "append",
                    "added-records": added,
                    "equality-delete-records": deleted,
                },
            }
        )
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["snapshot-log"].append({"snapshot-id": snap_id})
        self._store(table, meta)
        return snap_id

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
        id against the schema the snapshot recorded; equality deletes apply
        to strictly-lower data sequence numbers; the newest surviving row
        per identifier wins.

        ``predicate`` ({partition-column: value}) prunes at METADATA time:
        manifests whose recorded partition-value summaries cannot match
        are skipped before any file IO (data files by their own values,
        delete files by the dying keys' values), and the residual filter
        also reaches the hive-partitioned parquet listing. Sound under
        Iceberg's partition-immutability rule."""
        from functools import reduce

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
            schema = self._schema_by_id(meta, snap["schema-id"])
        read_struct = self._struct_from_fields(schema["fields"])
        name_by_id = {f["id"]: f["name"] for f in schema["fields"]}
        type_by_id = {f["id"]: f["type"] for f in schema["fields"]}
        if snap is None or not snap["manifests"]:
            return self.spark.createDataFrame([], read_struct)
        ddir = self._dir(table)

        def project(df: DataFrame, writer_names: Dict[str, int]) -> DataFrame:
            cols = []
            for fid, rname in name_by_id.items():
                src = next((n for n, i in writer_names.items() if i == fid), None)
                dt = T._parse_datatype_json_string(type_by_id[fid])
                if src is not None and src in df.columns:
                    cols.append(F.col(src).cast(dt).alias(rname))
                else:
                    cols.append(F.lit(None).cast(dt).alias(rname))
            return df.select(*cols, F.col(_SEQ))

        def _prunable(values_key: str, mf: dict) -> bool:
            """True when the predicate proves this manifest irrelevant."""
            if not predicate:
                return False
            vals = mf.get(values_key)
            if not vals:
                return False
            for col, want in predicate.items():
                if col in vals and str(want) not in vals[col]:
                    return True
            return False

        data_parts, delete_parts = [], []
        pk_ids = meta["identifier-field-ids"]
        pk_names = [name_by_id[i] for i in pk_ids if i in name_by_id]
        for mf in snap["manifests"]:
            # data and delete files prune INDEPENDENTLY: a manifest may
            # write partition X while its delete file kills keys in Y
            if not _prunable("partition-values", mf):
                df = self.spark.read.parquet(os.path.join(ddir, mf["data-file"]))
                if predicate:
                    for col, want in predicate.items():
                        if col in df.columns:
                            df = df.where(F.col(col) == F.lit(want))
                data_parts.append(project(df, mf["name-to-id"]))
            if mf["delete-file"] and not _prunable(
                "delete-partition-values", mf
            ):
                dd = self.spark.read.parquet(os.path.join(ddir, mf["delete-file"]))
                # delete files carry only key columns + sequence
                writer = {
                    n: i for n, i in mf["name-to-id"].items() if i in pk_ids
                }
                keyed = dd.select(
                    *[
                        F.col(n).alias(name_by_id[i])
                        for n, i in writer.items()
                        if n in dd.columns and i in name_by_id
                    ],
                    F.col(_SEQ).alias("__del_seq"),
                )
                delete_parts.append(keyed)

        if not data_parts:  # every data manifest pruned
            return self.spark.createDataFrame([], read_struct)
        data = reduce(lambda a, b: a.unionByName(b), data_parts)
        if delete_parts and pk_names:
            dels = reduce(lambda a, b: a.unionByName(b), delete_parts)
            # keep the highest delete sequence per key: one compact side
            dels = dels.groupBy(*pk_names).agg(
                F.max("__del_seq").alias("__del_seq")
            )
            cond = [data[k] == dels[k] for k in pk_names]
            data = (
                data.join(dels, cond, "left")
                # equality deletes apply to STRICTLY lower data sequences
                .where(
                    F.col("__del_seq").isNull() | (F.col(_SEQ) >= F.col("__del_seq"))
                )
                .select(*[data[f.name] for f in read_struct.fields], data[_SEQ])
            )
        if pk_names:
            data = first_per_key(data, pk_names, F.col(_SEQ).desc())
        return data.select(*[f.name for f in read_struct.fields])

    def compact(self, table: str) -> int:
        """Binpack-style compaction (the connector's `sink.compaction.*`
        surface / Iceberg rewrite_data_files): materialize the current
        merged state into ONE consolidated data file and commit it as a
        `replace` snapshot with a single manifest and no delete file —
        read amplification drops from O(commits) manifests to 1. Older
        snapshots keep their original manifests, so time travel across
        the compaction still works. Metadata-only for readers: the
        replace snapshot's content EQUALS the pre-compaction read."""
        meta = self._load(table)
        if meta is None:
            raise ValueError(f"iceberg table {table} does not exist")
        state = self.read(table)
        cur = self._current_schema(meta)
        id_by_name = {f["name"]: f["id"] for f in cur["fields"]}
        seq = meta["last-sequence-number"] + 1
        snap_id = seq
        ddir = self._dir(table)
        data_path = os.path.join(ddir, "data", f"compact-{snap_id:08d}.parquet")
        rows = state.withColumn(_SEQ, F.lit(seq).cast("long"))
        parts = [p for p in self._partition_names(meta) if p in state.columns]
        part_values = None
        if parts:
            part_values = {
                p: sorted(
                    str(r[0])
                    for r in rows.select(p).distinct().collect()
                    if r[0] is not None
                )
                for p in parts
            }
            rows.write.mode("overwrite").partitionBy(*parts).parquet(data_path)
        else:
            rows.write.mode("overwrite").parquet(data_path)
        added = self.spark.read.parquet(data_path).count()
        meta["snapshots"].append(
            {
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "schema-id": cur["schema-id"],
                "manifests": [
                    {
                        "sequence-number": seq,
                        "schema-id": cur["schema-id"],
                        "name-to-id": id_by_name,
                        "data-file": os.path.relpath(data_path, ddir),
                        "delete-file": None,
                        "equality-ids": list(meta["identifier-field-ids"]),
                        "partition-values": part_values,
                        "delete-partition-values": None,
                    }
                ],
                "summary": {"operation": "replace", "added-records": added},
            }
        )
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["snapshot-log"].append({"snapshot-id": snap_id})
        self._store(table, meta)
        return snap_id

    def truncate(self, table: str) -> None:
        """TRUNCATE TABLE as a delete-all snapshot: a new snapshot with an
        EMPTY manifest list (operation "delete"). Data files stay on disk,
        referenced by older snapshots — time travel across the truncate
        still works, exactly like an Iceberg `DELETE FROM t` commit."""
        meta = self._load(table)
        if meta is None:
            raise ValueError(f"iceberg table {table} does not exist")
        seq = meta["last-sequence-number"] + 1
        meta["snapshots"].append(
            {
                "snapshot-id": seq,
                "sequence-number": seq,
                "timestamp-ms": int(time.time() * 1000),
                "schema-id": meta["current-schema-id"],
                "manifests": [],
                "summary": {"operation": "delete", "added-records": 0},
            }
        )
        meta["current-snapshot-id"] = seq
        meta["last-sequence-number"] = seq
        meta["snapshot-log"].append({"snapshot-id": seq})
        self._store(table, meta)

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
        meta = self._load(table)
        if meta is None:
            raise ValueError(f"iceberg table {table} does not exist")
        cur = self._current_schema(meta)
        fields = [dict(f) for f in cur["fields"]]
        fields = mutate(meta, fields)
        new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"].append(self._schema_entry(new_id, fields))
        meta["current-schema-id"] = new_id
        self._store(table, meta)

    def add_column(
        self, table: str, name: str, dt: T.DataType, nullable: bool = True
    ) -> None:
        def mutate(meta, fields):
            meta["last-column-id"] += 1
            fields.append(
                {
                    "id": meta["last-column-id"],
                    "name": name,
                    "type": dt.json(),
                    "required": not nullable,
                }
            )
            return fields

        self._evolve(table, mutate)

    def rename_column(self, table: str, old: str, new: str) -> None:
        def mutate(meta, fields):
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            return fields

        self._evolve(table, mutate)

    def drop_column(self, table: str, name: str) -> None:
        def mutate(meta, fields):
            out = [f for f in fields if f["name"] != name]
            dropped = [f["id"] for f in fields if f["name"] == name]
            meta["identifier-field-ids"] = [
                i for i in meta["identifier-field-ids"] if i not in dropped
            ]
            return out

        self._evolve(table, mutate)

    def alter_column_type(self, table: str, name: str, dt: T.DataType) -> None:
        def mutate(meta, fields):
            for f in fields:
                if f["name"] == name:
                    f["type"] = dt.json()
            return fields

        self._evolve(table, mutate)


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
