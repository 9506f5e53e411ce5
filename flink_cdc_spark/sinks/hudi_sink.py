"""Hudi pipeline sink analog: record-key/bucket/precombine semantics plus
a timeline-instant table layout over the LSM store's commit files
(hudi jars are not available in this environment).

Reference: pipeline-connector-hudi
  - RowDataUtils.java:220-264 — each DataChangeEvent becomes a
    HoodieFlinkInternalRow: record key + partition path from the schema's
    primary keys (RowDataKeyGen), operation mapped I/U/D (UPDATE and
    REPLACE both "U", DELETE carries the before image).
  - BucketAssignOperator.java:200-248 — BUCKET index: bucket =
    BucketIdentifier.getBucketId(recordKey, pkFields, numBuckets); a table
    without primary keys is rejected.
  - HudiConfig.java / HudiDataSinkFactory.java:81-93 — required `path`;
    optional table.type (COPY_ON_WRITE | MERGE_ON_READ), index.type
    (BUCKET), ordering fields (the precombine field), write.tasks,
    `table.properties.` / `catalog.properties.` prefixes.
  - MultiTableStreamWriteOperatorCoordinator — one Hudi timeline instant
    per flush barrier (our commit()).

Public-Hudi semantics reproduced natively:
  * record key: single pk -> value string; composite -> "f1:v1,f2:v2"
    (KeyGenerator convention);
  * bucket id: (Java List<String>.hashCode of the pk value strings
    & Integer.MAX_VALUE) % numBuckets — BucketIdentifier's arithmetic,
    computed by an Arrow-batched pandas UDF (Java's 31-fold string hash
    has no JVM-side Spark builtin);
  * file slices: every write is one LSM commit file
    (``lsm_store.write_commit``), hive-partitioned by bucket (a directory
    per file group), one row per record key — the highest ordering
    (precombine) value, ties to the later change;
  * MERGE_ON_READ: each commit appends a `log-<instant>` slice; a read
    merges the latest `base-<instant>` slice and the later logs in one
    ``merge_commits`` window ordered by ordering desc, then instant desc,
    and drops `__deleted` tombstones after it;
  * compaction writes that merge as a new base slice, tombstones and
    ordering values kept: a later log row with a lower precombine value
    must still lose to a compacted winner, deleted or not. MOR `compact`
    folds the logs; a COPY_ON_WRITE upsert is the compaction of (latest
    base slice ∪ batch), so a COW read is one slice and no merge;
  * timeline: `.hoodie/<instant>.deltacommit` / `.commit` JSON instants,
    next to an atomically written `hoodie.properties`; each instant
    records the schema its slice was written with, and a read opens the
    slice with it (``lsm_store.read_commit_file``), so no slice costs a
    Parquet schema-inference job;
  * Hudi meta columns `_hoodie_commit_time`, `_hoodie_record_key`,
    `_hoodie_partition_path` stored in every data file.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from ..sources.envelope import ENVELOPE_OP, ENVELOPE_SEQ, OP_DELETE, row_image
from .lsm_store import (
    COMMIT,
    TOMBSTONE,
    live_rows,
    merge_commits,
    read_commit_file,
    read_json,
    write_commit,
    write_json,
)

META_COMMIT_TIME = "_hoodie_commit_time"
META_RECORD_KEY = "_hoodie_record_key"
META_PARTITION_PATH = "_hoodie_partition_path"
_ORDERING = "__hoodie_ordering"
_BUCKET = "__bucket"

COPY_ON_WRITE = "COPY_ON_WRITE"
MERGE_ON_READ = "MERGE_ON_READ"


def _precombine(*by):
    """Precombine order: the highest ordering value first, then ``by``
    (the instant, when merging slices), then the later change."""
    return [F.col(c).desc() for c in (_ORDERING, *by, ENVELOPE_SEQ)]


def _java_string_hash(s: str) -> int:
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


def bucket_id(values: Sequence[str], num_buckets: int) -> int:
    """BucketIdentifier.getBucketId: Java List<String>.hashCode (31-fold
    starting at 1) of the pk value strings, masked positive, mod buckets."""
    h = 1
    for v in values:
        h = (31 * h + (_java_string_hash(v) & 0xFFFFFFFF)) & 0xFFFFFFFF
    signed = h - 0x100000000 if h >= 0x80000000 else h
    return (signed & 0x7FFFFFFF) % num_buckets


def _bucket_udf(num_buckets: int):
    @pandas_udf(T.IntegerType())
    def compute(keys: pd.Series) -> pd.Series:
        return keys.map(
            lambda k: bucket_id(k.split("\x01"), num_buckets)
        ).astype("int32")

    return compute


@dataclass
class HudiTableConfig:
    record_key_fields: List[str]
    table_type: str = MERGE_ON_READ
    num_buckets: int = 4
    ordering_field: Optional[str] = None  # precombine; None -> source order
    partition_field: Optional[str] = None
    properties: dict = field(default_factory=dict)


class HudiTableStore:
    """One Hudi-style table per sink table under `path/<table>/`."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, table: str) -> str:
        return os.path.join(self.path, table.replace("/", "_"))

    def _hoodie_dir(self, table: str) -> str:
        return os.path.join(self._dir(table), ".hoodie")

    def _props_path(self, table: str) -> str:
        return os.path.join(self._hoodie_dir(table), "hoodie.properties")

    # -- table lifecycle ---------------------------------------------------
    def create_table(
        self, table: str, struct: T.StructType, cfg: HudiTableConfig
    ) -> None:
        if not cfg.record_key_fields:
            # BucketAssignOperator: cannot calculate bucket without pk
            raise ValueError(
                f"hudi sink: table {table} has no primary keys; "
                "the BUCKET index requires record keys"
            )
        if cfg.table_type not in (COPY_ON_WRITE, MERGE_ON_READ):
            raise ValueError(f"hudi sink: unknown table.type {cfg.table_type!r}")
        os.makedirs(self._hoodie_dir(table), exist_ok=True)
        if os.path.exists(self._props_path(table)):
            return
        props = {
            "hoodie.table.name": table,
            "hoodie.table.type": cfg.table_type,
            "hoodie.table.recordkey.fields": ",".join(cfg.record_key_fields),
            "hoodie.bucket.index.num.buckets": cfg.num_buckets,
            "hoodie.table.precombine.field": cfg.ordering_field or "",
            "hoodie.table.partition.fields": cfg.partition_field or "",
            "schema": struct.json(),
            **{f"user.{k}": str(v) for k, v in cfg.properties.items()},
        }
        write_json(self._props_path(table), props, indent=1)

    def _load_cfg(self, table: str) -> dict:
        return read_json(self._props_path(table))

    # -- timeline ----------------------------------------------------------
    def _timeline_files(self, table: str) -> List[str]:
        """Completed instant files, oldest first."""
        return sorted(
            f for f in os.listdir(self._hoodie_dir(table))
            if f.partition(".")[2] in ("commit", "deltacommit")
        )

    def _instants(self, table: str) -> List[int]:
        return [int(f.partition(".")[0]) for f in self._timeline_files(table)]

    def _next_instant(self, table: str) -> int:
        instants = self._instants(table)
        return (instants[-1] + 1) if instants else 1

    def _write_instant(self, table: str, instant: int, action: str, summary: dict):
        write_json(
            os.path.join(self._hoodie_dir(table), f"{instant:08d}.{action}"),
            {"instant": instant, "action": action, **summary},
        )

    # -- file slices ---------------------------------------------------------
    def _write(self, table: str, name: str, rows: DataFrame) -> dict:
        """Write one file slice; returns the instant fields that describe
        it: the file, its row count (observed on the write) and the schema
        it was written with, which a read opens it with."""
        got = write_commit(
            rows, os.path.join(self._dir(table), name), [META_RECORD_KEY],
            _precombine(), [_BUCKET], [F.count(F.lit(1)).alias("n")],
        )
        return {"records": got["n"], "file": name, "schema": rows.schema.json()}

    def _slices(self, table: str) -> list:
        """What a read merges, each with its instant: the latest base slice
        (a COW commit or a MOR compaction) and the logs after it, each
        opened with the schema its instant recorded (an instant written
        before schemas were recorded has none: Spark infers it)."""
        ddir = self._dir(table)
        path = lambda kind, i: os.path.join(ddir, f"{kind}-{i:08d}")
        written = {t["instant"]: t.get("schema") for t in self.timeline(table)}
        floor = max(
            (i for i in written if os.path.isdir(path("base", i))), default=0
        )
        slices = [("base", floor)] if floor else []
        slices += [
            ("log", i) for i in sorted(written)
            if i > floor and os.path.isdir(path("log", i))
        ]
        return [(read_commit_file(self.spark, path(k, i), written[i]), i)
                for k, i in slices]

    def _compact(self, table: str, instant: int, parts) -> dict:
        """Merge ``parts`` into base slice ``instant``, tombstones and
        ordering values kept; returns the slice's instant fields. A lone
        part is written unmerged, so the slice write's own precombine
        reduces a first COW batch to one row per key."""
        merged = merge_commits(parts, [META_RECORD_KEY], *_precombine(COMMIT))
        return self._write(table, f"base-{instant:08d}", merged.drop(COMMIT))

    # -- write path ---------------------------------------------------------
    def upsert(self, table: str, env: DataFrame, target_struct: T.StructType) -> int:
        """One envelope batch -> one timeline instant. MOR appends a log
        slice (O(batch)); COW compacts the batch into the latest slice."""
        props = self._load_cfg(table)
        keys = props["hoodie.table.recordkey.fields"].split(",")
        num_buckets = int(props["hoodie.bucket.index.num.buckets"])
        ordering = props["hoodie.table.precombine.field"] or None
        partition_field = props["hoodie.table.partition.fields"] or None
        instant = self._next_instant(table)

        payload = [f.name for f in target_struct.fields]
        img = row_image()
        vals = [img.getField(k).cast("string") for k in keys]
        # RowDataKeyGen: single field -> value; composite -> f1:v1,f2:v2
        record_key = vals[0] if len(keys) == 1 else F.concat_ws(
            ",", *[F.concat_ws(":", F.lit(k), v) for k, v in zip(keys, vals)]
        )
        partition = (
            img.getField(partition_field).cast("string")
            if partition_field
            else F.lit("")
        )
        order_col = (
            img.getField(ordering) if ordering else F.col(ENVELOPE_SEQ)
        ).cast("double")
        rows = env.select(
            *[img.getField(c).alias(c) for c in payload],
            F.lit(f"{instant:08d}").alias(META_COMMIT_TIME),
            record_key.alias(META_RECORD_KEY),
            partition.alias(META_PARTITION_PATH),
            (F.col(ENVELOPE_OP) == OP_DELETE).alias(TOMBSTONE),
            order_col.alias(_ORDERING),
            _bucket_udf(num_buckets)(F.concat_ws("\x01", *vals)).alias(_BUCKET),
            F.col(ENVELOPE_SEQ),
        )
        if props["hoodie.table.type"] == MERGE_ON_READ:
            action = "deltacommit"
            written = self._write(table, f"log-{instant:08d}", rows)
        else:
            # COPY_ON_WRITE: rewrite the file slice with the batch merged
            # in (classic COW write amplification)
            action = "commit"
            written = self._compact(
                table, instant, self._slices(table) + [(rows, instant)]
            )
        self._write_instant(table, instant, action, written)
        return instant

    def compact(self, table: str) -> int:
        """MOR compaction (Hudi's deltacommit -> commit rewrite): resolve
        the latest base slice and the later logs per record key into one
        new bucket-partitioned base slice, keeping each winner's ORDERING
        value and tombstones (a later log row with a LOWER precombine
        value must still lose to the compacted winner); later reads merge
        only logs newer than it. No-op for COW."""
        if self._load_cfg(table)["hoodie.table.type"] != MERGE_ON_READ:
            return 0
        parts = self._slices(table)
        if not parts:
            return 0
        instant = self._next_instant(table)
        self._write_instant(
            table, instant, "commit",
            {**self._compact(table, instant, parts), "operation": "compaction"},
        )
        return instant

    # -- read path -----------------------------------------------------------
    def read(self, table: str) -> Optional[DataFrame]:
        """Snapshot read: the latest base slice and the later logs merged
        per record key (a COW table has one slice, so no merge);
        tombstones drop after resolution."""
        struct = T.StructType.fromJson(
            json.loads(self._load_cfg(table)["schema"])
        )
        parts = self._slices(table)
        if not parts:
            return self.spark.createDataFrame([], struct)
        return live_rows(
            merge_commits(parts, [META_RECORD_KEY], *_precombine(COMMIT)),
            struct.fieldNames(),
        )

    def timeline(self, table: str) -> List[dict]:
        return [
            read_json(os.path.join(self._hoodie_dir(table), name))
            for name in self._timeline_files(table)
        ]


# ---------------------------------------------------------------------------
# Factory option surface (HudiDataSinkFactory / HudiConfig)
# ---------------------------------------------------------------------------

REQUIRED_OPTIONS = ("path",)
OPTIONAL_OPTIONS = (
    "table.type",
    "index.type",
    "ordering.fields",
    "write.tasks",
    "hoodie.bucket.index.num.buckets",
)
_PREFIX_OPTIONS = ("table.properties.", "catalog.properties.")


@dataclass
class HudiSinkOptions:
    path: str
    table_type: str = COPY_ON_WRITE
    index_type: str = "BUCKET"
    ordering_fields: Optional[str] = None
    write_tasks: int = 4
    num_buckets: int = 4
    table_properties: dict = field(default_factory=dict)


def validate_hudi_options(config: dict) -> HudiSinkOptions:
    missing = [k for k in REQUIRED_OPTIONS if k not in config]
    if missing:
        raise ValueError(f"hudi sink: missing required option(s): {missing}")
    props = {}
    for key in config:
        if any(key.startswith(p) for p in _PREFIX_OPTIONS):
            props[key.split(".", 2)[-1]] = str(config[key])
            continue
        if key in ("type",) or key in REQUIRED_OPTIONS or key in OPTIONAL_OPTIONS:
            continue
        raise ValueError(f"hudi sink: unknown option {key!r}")
    tt = str(config.get("table.type", COPY_ON_WRITE)).upper()
    if tt not in (COPY_ON_WRITE, MERGE_ON_READ):
        raise ValueError(f"hudi sink: table.type must be COW or MOR, got {tt!r}")
    it = str(config.get("index.type", "BUCKET")).upper()
    if it != "BUCKET":
        raise ValueError(f"hudi sink: only the BUCKET index is supported, got {it!r}")
    return HudiSinkOptions(
        path=str(config["path"]),
        table_type=tt,
        index_type=it,
        ordering_fields=config.get("ordering.fields"),
        write_tasks=int(config.get("write.tasks", 4)),
        num_buckets=int(config.get("hoodie.bucket.index.num.buckets", 4)),
        table_properties=props,
    )
