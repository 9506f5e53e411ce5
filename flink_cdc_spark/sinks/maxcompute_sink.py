"""MaxCompute (ODPS) pipeline sink: CDC envelope -> tunnel-session records.

Reference: pipeline-connector-maxcompute MaxComputeEventWriter.java (write:
non-DELETE ops upsert the after image into the tunnel session, DELETE
writes the before image as a tunnel delete; records route to a session
keyed by (project, schema, table, partition, sessionId)) and
SessionCommitCoordinateHelper / SessionManageOperator (sessions commit on
the flush barrier, in session-id order, so a table becomes visible
atomically per checkpoint).

Spark-first shape: the "tunnel record" is a pure-column encode —
(session_id, partition_name, op UPSERT|DELETE, record JSON, __seq) — and
the commit is a deterministic grouping: a session is (table, partition)
within one flush epoch. The decode half reconstructs the envelope a
MaxCompute transactional table would apply (upsert/delete by primary key
in record order), which `materialize_changelog` implements over __seq.
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

OP_UPSERT_MC = "UPSERT"
OP_DELETE_MC = "DELETE"


def encode_maxcompute(
    env: DataFrame,
    pk_names: List[str],
    partition_expr: Optional[F.Column] = None,
    bucket_num: int = 4,
) -> DataFrame:
    """Envelope -> tunnel-session records.

    session_id = <table>/<partition>: the reference keys writer sessions
    by (project, schema, table, partition, sessionId) and the coordinator
    commits them per flush barrier — within one batch the (table,
    partition) pair IS the session. The bucket mirrors
    MaxComputeHashFunctionProvider: hash of the primary key values of the
    op's effective image, modulo bucket count, so one key's changes stay
    ordered within a bucket.
    """
    is_del = F.col(ENVELOPE_OP) == OP_DELETE
    image = row_image()
    part = (
        partition_expr.cast("string")
        if partition_expr is not None
        else F.lit("__default__")
    )
    bucket = F.pmod(
        F.hash(*[image.getField(k) for k in pk_names]), F.lit(bucket_num)
    ).cast("int")
    return env.select(
        F.concat(F.col(ENVELOPE_TABLE_ID), F.lit("/"), part).alias("session_id"),
        part.alias("partition_name"),
        bucket.alias("bucket"),
        F.when(is_del, F.lit(OP_DELETE_MC)).otherwise(F.lit(OP_UPSERT_MC)).alias("op"),
        F.to_json(image).alias("record"),
        F.col(ENVELOPE_SEQ).alias("__seq"),
    )


def decode_maxcompute(
    records: DataFrame, payload: T.StructType, table_id: str
) -> DataFrame:
    """Tunnel records -> the envelope a MaxCompute transactional table
    applies on session commit. The partition name rides along in meta (the
    reference moves it through event meta, Constant.MAXCOMPUTE_PARTITION_NAME)."""
    row = F.from_json(F.col("record"), payload)
    is_del = F.col("op") == OP_DELETE_MC
    meta = F.create_map(
        F.lit("sink"), F.lit("maxcompute"),
        F.lit("partition"), F.col("partition_name"),
        F.lit("session"), F.col("session_id"),
    )
    return from_images(records, table_id, row, is_del, meta)


# -- factory option surface (MaxComputeDataSinkFactory.java) ----------------

REQUIRED_OPTIONS = ("access-id", "access-key", "endpoint", "project")
OPTIONAL_OPTIONS = (
    "tunnel.endpoint",
    "quota.name",
    "sts-token",
    "buckets-num",
    "compress.algorithm",
    "bucket.buffer-size",
    "total.buffer-size",
    "commit.thread-num",
    "flush.concurrent-num",
)
_COMPRESS_ALGORITHMS = ("zlib", "snappy", "lz4", "raw")


def validate_maxcompute_options(config: dict) -> dict:
    """MaxComputeDataSinkFactory surface: account/project required,
    unknown keys rejected, buckets-num a positive int."""
    known = set(REQUIRED_OPTIONS) | set(OPTIONAL_OPTIONS)
    unknown = sorted(k for k in config if k not in known and k != "name")
    if unknown:
        raise ValueError(
            f"unsupported option(s) for 'maxcompute' sink: {', '.join(unknown)}"
        )
    missing = [k for k in REQUIRED_OPTIONS if config.get(k) in (None, "")]
    if missing:
        raise ValueError(
            f"'maxcompute' sink missing required option(s): {', '.join(missing)}"
        )
    try:
        buckets = int(config.get("buckets-num", 16))
    except (TypeError, ValueError):
        raise ValueError(f"'buckets-num' must be an integer: {config['buckets-num']!r}")
    if buckets <= 0:
        raise ValueError(f"'buckets-num' must be positive: {buckets}")
    algo = str(config.get("compress.algorithm", "zlib")).lower()
    if algo not in _COMPRESS_ALGORITHMS:
        raise ValueError(
            f"unsupported compress.algorithm {algo!r}; "
            f"one of {', '.join(_COMPRESS_ALGORITHMS)}"
        )
    return {
        "project": str(config["project"]),
        "endpoint": str(config["endpoint"]),
        "buckets_num": buckets,
        "compress_algorithm": algo,
    }
