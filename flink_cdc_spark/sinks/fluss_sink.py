"""Fluss pipeline sink: CDC envelope -> Fluss row-with-op log records.

Reference: pipeline-connector-fluss FlussEventSerializationSchema.java
(serialize: INSERT/UPDATE/REPLACE -> UPSERT of the after image, DELETE ->
DELETE of the before image, APPEND when the table has no primary key) and
FlussDataSinkOptions.java (bucket.key / bucket.num: rows distribute to a
bucket by the hash of the bucket key, defaulting to the primary key).

Spark-first shape: the wire record is built entirely from column
expressions (to_json/hash/pmod — JVM-side, codegen-friendly, no Python in
the row path). The decode half reconstructs the envelope the way a Fluss
tablet would apply the log: per-key ordered apply, which
`materialize_changelog` already implements over __seq.
"""

from __future__ import annotations

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

OP_UPSERT_F = "UPSERT"
OP_DELETE_F = "DELETE"
OP_APPEND_F = "APPEND"


def encode_fluss(
    env: DataFrame,
    pk_names: List[str],
    bucket_keys: Optional[List[str]] = None,
    bucket_num: int = 3,
) -> DataFrame:
    """Envelope -> (table_path, bucket, op, row JSON, __seq).

    table_path follows TablePath.of(schemaName, tableName): the LAST two
    parts of the table id. The bucket is hash(bucket key) % bucket_num —
    bucket.key defaults to the primary key (FlussDataSinkOptions), so all
    changes of one key land in one bucket and per-key order survives.
    """
    is_del = F.col(ENVELOPE_OP) == OP_DELETE
    image = row_image()
    keys = bucket_keys or pk_names
    if keys:
        bucket = F.pmod(
            F.hash(*[image.getField(k) for k in keys]), F.lit(bucket_num)
        ).cast("int")
    else:
        # log table without pk or bucket.key: Fluss appends round-robin
        # across buckets — deterministic here via the source offset so a
        # replayed batch lands records in the same buckets
        bucket = F.pmod(F.col(ENVELOPE_SEQ), F.lit(bucket_num)).cast("int")
    parts = F.split(F.col(ENVELOPE_TABLE_ID), r"\.")
    n = F.size(parts)
    table_path = F.when(
        n >= 2,
        F.concat(
            F.element_at(parts, -2), F.lit("."), F.element_at(parts, -1)
        ),
    ).otherwise(F.col(ENVELOPE_TABLE_ID))
    op = (
        F.when(is_del, F.lit(OP_DELETE_F))
        .otherwise(F.lit(OP_UPSERT_F) if pk_names else F.lit(OP_APPEND_F))
    )
    return env.select(
        table_path.alias("table_path"),
        bucket.alias("bucket"),
        op.alias("op"),
        F.to_json(image).alias("row"),
        F.col(ENVELOPE_SEQ).alias("__seq"),
    )


def decode_fluss(
    records: DataFrame, payload: T.StructType, table_id: str
) -> DataFrame:
    """Log records -> envelope (what a Fluss tablet applies): UPSERT is a
    REPLACE-style insert of the full row, DELETE carries the key image.
    Callers materialize by primary key over __seq."""
    row = F.from_json(F.col("row"), payload)
    is_del = F.col("op") == OP_DELETE_F
    meta = F.create_map(
        F.lit("sink"), F.lit("fluss"), F.lit("bucket"), F.col("bucket").cast("string")
    )
    return from_images(records, table_id, row, is_del, meta)


# -- factory option surface (FlussDataSinkFactory.java) ---------------------

REQUIRED_OPTIONS = ("bootstrap.servers",)
OPTIONAL_OPTIONS = ("bucket.key", "bucket.num")
CLIENT_PROPERTIES_PREFIX = "properties.client."
TABLE_PROPERTIES_PREFIX = "properties.table."


def parse_bucket_keys(raw: Optional[str]) -> dict:
    """'db.tbl:k1,k2;db.t2:k' -> {'db.tbl': ['k1','k2'], ...}
    (FlussConfigUtils.parseBucketKeys)."""
    out: dict = {}
    if not raw:
        return out
    for part in raw.split(";"):
        part = part.strip()
        if not part:
            continue
        kv = part.split(":", 1)
        if len(kv) != 2:
            raise ValueError(f"Invalid bucket key configuration: {raw}")
        out[kv[0].strip()] = [k.strip() for k in kv[1].split(",")]
    return out


def parse_bucket_number(raw: Optional[str]) -> dict:
    """'db.tbl:3;db.t2:8' -> {'db.tbl': 3, ...}
    (FlussConfigUtils.parseBucketNumber)."""
    out: dict = {}
    if not raw:
        return out
    for part in raw.split(";"):
        part = part.strip()
        if not part:
            continue
        kv = part.split(":", 1)
        if len(kv) != 2:
            raise ValueError(f"Invalid bucket number configuration: {raw}")
        try:
            out[kv[0].strip()] = int(kv[1].strip())
        except ValueError:
            raise ValueError(f"Invalid bucket number configuration: {raw}")
    return out


def validate_fluss_options(config: dict) -> dict:
    """FlussDataSinkFactory surface: bootstrap.servers required; unknown
    keys rejected EXCEPT under the properties.client./properties.table.
    pass-through prefixes (validateExcept)."""
    known = set(REQUIRED_OPTIONS) | set(OPTIONAL_OPTIONS)
    unknown = sorted(
        k
        for k in config
        if k not in known
        and k != "name"
        and not k.startswith(CLIENT_PROPERTIES_PREFIX)
        and not k.startswith(TABLE_PROPERTIES_PREFIX)
    )
    if unknown:
        raise ValueError(
            f"unsupported option(s) for 'fluss' sink: {', '.join(unknown)}"
        )
    missing = [k for k in REQUIRED_OPTIONS if config.get(k) in (None, "")]
    if missing:
        raise ValueError(
            f"'fluss' sink missing required option(s): {', '.join(missing)}"
        )
    return {
        "bootstrap_servers": str(config["bootstrap.servers"]),
        "bucket_keys": parse_bucket_keys(config.get("bucket.key")),
        "bucket_nums": parse_bucket_number(
            str(config["bucket.num"]) if config.get("bucket.num") is not None else None
        ),
        "client_properties": {
            k[len("properties."):]: v
            for k, v in config.items()
            if k.startswith(CLIENT_PROPERTIES_PREFIX)
        },
        "table_properties": {
            k[len("properties."):]: v
            for k, v in config.items()
            if k.startswith(TABLE_PROPERTIES_PREFIX)
        },
    }
