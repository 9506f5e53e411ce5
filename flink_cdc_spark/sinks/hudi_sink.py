"""Hudi pipeline sink analog: record-key/bucket/precombine semantics plus
a timeline-instant table layout, executed natively (hudi jars are not
available in this environment).

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
  * MERGE_ON_READ: commits append per-bucket log files; read merges by
    key with the ordering/precombine field deciding the winner (ties ->
    later instant), `_hoodie_is_deleted` tombstones drop rows;
  * COPY_ON_WRITE: each commit rewrites merged file slices; read is the
    latest slice, no merge;
  * timeline: `.hoodie/<instant>.deltacommit` / `.commit` JSON instants;
  * Hudi meta columns `_hoodie_commit_time`, `_hoodie_record_key`,
    `_hoodie_partition_path` stored in every data file.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    OP_DELETE,
    first_per_key,
    row_image,
)

META_COMMIT_TIME = "_hoodie_commit_time"
META_RECORD_KEY = "_hoodie_record_key"
META_PARTITION_PATH = "_hoodie_partition_path"
IS_DELETED = "_hoodie_is_deleted"
_ORDERING = "__hoodie_ordering"
_BUCKET = "__bucket"

COPY_ON_WRITE = "COPY_ON_WRITE"
MERGE_ON_READ = "MERGE_ON_READ"


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
            lambda k: bucket_id(k.split(""), num_buckets)
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
        with open(self._props_path(table), "w") as f:
            json.dump(props, f, indent=1)

    def _load_cfg(self, table: str) -> dict:
        with open(self._props_path(table)) as f:
            return json.load(f)

    # -- timeline ----------------------------------------------------------
    def _instants(self, table: str) -> List[int]:
        d = self._hoodie_dir(table)
        out = []
        for f_ in os.listdir(d):
            base, dot, action = f_.partition(".")
            if dot and action in ("commit", "deltacommit"):
                out.append(int(base))
        return sorted(out)

    def _write_instant(self, table: str, instant: int, action: str, summary: dict):
        p = os.path.join(self._hoodie_dir(table), f"{instant:08d}.{action}")
        fd, tmp = tempfile.mkstemp(dir=self._hoodie_dir(table))
        with os.fdopen(fd, "w") as f:
            json.dump({"instant": instant, "action": action, **summary}, f)
        os.replace(tmp, p)

    # -- write path ---------------------------------------------------------
    def upsert(self, table: str, env: DataFrame, target_struct: T.StructType) -> int:
        """One envelope batch -> one timeline instant. MOR appends a
        per-bucket log file (O(batch)); COW rewrites the merged slice."""
        props = self._load_cfg(table)
        keys = props["hoodie.table.recordkey.fields"].split(",")
        num_buckets = int(props["hoodie.bucket.index.num.buckets"])
        ordering = props["hoodie.table.precombine.field"] or None
        partition_field = props["hoodie.table.partition.fields"] or None
        instants = self._instants(table)
        instant = (instants[-1] + 1) if instants else 1

        payload = [f.name for f in target_struct.fields]
        is_del = F.col(ENVELOPE_OP) == OP_DELETE
        img = row_image()
        # RowDataKeyGen: single field -> value; composite -> f1:v1,f2:v2
        if len(keys) == 1:
            record_key = img.getField(keys[0]).cast("string")
        else:
            record_key = F.concat_ws(
                ",",
                *[
                    F.concat_ws(":", F.lit(k), img.getField(k).cast("string"))
                    for k in keys
                ],
            )
        hash_input = F.concat_ws(
            "", *[img.getField(k).cast("string") for k in keys]
        )
        partition = (
            img.getField(partition_field).cast("string")
            if partition_field
            else F.lit("")
        )
        order_col = (
            img.getField(ordering).cast("double")
            if ordering
            else F.col(ENVELOPE_SEQ).cast("double")
        )
        rows = env.select(
            *[img.getField(c).alias(c) for c in payload],
            F.lit(f"{instant:08d}").alias(META_COMMIT_TIME),
            record_key.alias(META_RECORD_KEY),
            partition.alias(META_PARTITION_PATH),
            is_del.alias(IS_DELETED),
            order_col.alias(_ORDERING),
            _bucket_udf(num_buckets)(hash_input).alias(_BUCKET),
        )

        table_type = props["hoodie.table.type"]
        ddir = self._dir(table)
        if table_type == MERGE_ON_READ:
            out = os.path.join(ddir, f"log-{instant:08d}")
            rows.write.mode("overwrite").partitionBy(_BUCKET).parquet(out)
            action = "deltacommit"
        else:
            # COPY_ON_WRITE: merge incoming over current state, rewrite the
            # file slice (classic COW write amplification)
            current = self._read_files(table, props)
            merged = (
                current.unionByName(rows) if current is not None else rows
            )
            merged = self._resolve(merged)
            out = os.path.join(ddir, f"base-{instant:08d}")
            merged.write.mode("overwrite").partitionBy(_BUCKET).parquet(out)
            action = "commit"
        count = self.spark.read.parquet(out).count()
        self._write_instant(
            table, instant, action, {"records": count, "file": os.path.basename(out)}
        )
        return instant

    def compact(self, table: str) -> int:
        """MOR compaction (Hudi's deltacommit -> commit rewrite): resolve
        the accumulated log files per record key (keeping each winner's
        ORDERING value and tombstones — a later log row with a LOWER
        precombine value must still lose to the compacted winner) into
        one consolidated bucket-partitioned slice; subsequent reads merge
        only logs newer than the compaction instant. No-op for COW."""
        props = self._load_cfg(table)
        if props["hoodie.table.type"] != MERGE_ON_READ:
            return 0
        current = self._read_files(table, props)
        if current is None:
            return 0
        resolved = self._resolve(current)
        instants = self._instants(table)
        instant = (instants[-1] + 1) if instants else 1
        out = os.path.join(self._dir(table), f"clog-{instant:08d}")
        resolved.write.mode("overwrite").partitionBy(_BUCKET).parquet(out)
        count = self.spark.read.parquet(out).count()
        self._write_instant(
            table, instant, "commit",
            {"records": count, "file": os.path.basename(out),
             "operation": "compaction"},
        )
        return instant

    # -- read path -----------------------------------------------------------
    def _read_files(self, table: str, props: dict) -> Optional[DataFrame]:
        from functools import reduce

        ddir = self._dir(table)
        parts = []
        instants = self._instants(table)
        if props["hoodie.table.type"] == COPY_ON_WRITE:
            bases = [i for i in instants if os.path.isdir(
                os.path.join(ddir, f"base-{i:08d}"))]
            if not bases:
                return None
            return self.spark.read.parquet(
                os.path.join(ddir, f"base-{bases[-1]:08d}")
            )
        # MOR: the latest compacted slice (if any) replaces all logs at or
        # below its instant; only later deltacommit logs merge on top
        compacted = [i for i in instants if os.path.isdir(
            os.path.join(ddir, f"clog-{i:08d}"))]
        floor = compacted[-1] if compacted else 0
        if floor:
            parts.append(self.spark.read.parquet(
                os.path.join(ddir, f"clog-{floor:08d}")))
        for i in instants:
            if i <= floor:
                continue
            p = os.path.join(ddir, f"log-{i:08d}")
            if os.path.isdir(p):
                parts.append(self.spark.read.parquet(p))
        if not parts:
            return None
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Precombine: per record key the highest ordering value wins,
        ties broken by the later instant."""
        order = (F.col(_ORDERING).desc(), F.col(META_COMMIT_TIME).desc())
        return first_per_key(df, [META_RECORD_KEY], *order)

    def read(self, table: str) -> Optional[DataFrame]:
        """Snapshot read: MOR merges log files (merge-on-read); COW is the
        latest slice. Tombstones drop after resolution."""
        props = self._load_cfg(table)
        struct = T.StructType.fromJson(json.loads(props["schema"]))
        df = self._read_files(table, props)
        if df is None:
            return self.spark.createDataFrame([], struct)
        if props["hoodie.table.type"] == MERGE_ON_READ:
            df = self._resolve(df)
        live = df.where(~F.col(IS_DELETED))
        return live.select(*[f.name for f in struct.fields])

    def timeline(self, table: str) -> List[dict]:
        d = self._hoodie_dir(table)
        out = []
        for i in self._instants(table):
            for action in ("commit", "deltacommit"):
                p = os.path.join(d, f"{i:08d}.{action}")
                if os.path.exists(p):
                    with open(p) as f:
                        out.append(json.load(f))
        return out


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
