"""Elasticsearch sink surface: bulk-API request encoding, executor-side.

The Spark rendition of the reference's ES connector
(pipeline-connector-elasticsearch/.../ElasticsearchEventSerializer.java):
every change event becomes one `_bulk` NDJSON entry —

  * INSERT / UPDATE / REPLACE -> an `index` operation carrying the full
    after-image document (upsert-by-id gives last-image-wins),
  * DELETE -> a `delete` operation,
  * `_id` = primary-key values joined with `_`
    (ElasticsearchEventSerializer.generateUniqueId),
  * `_index` = the table id, optionally suffixed with a sharding value
    (tableSharding: explicit sharding key, else first partition key).

Everything is pure column expressions (`to_json` / `concat_ws`), so the
encode runs wherever the envelope's partitions live — on a real cluster a
`foreachPartition` HTTP POST of the prebuilt `bulk` strings is all that
remains, batched per partition. The envelope's `__seq` rides along as the
external version number a versioned ES index would use for out-of-order
protection. No ES server ships in this sandbox, so the network half stays
out of scope; the wire bytes are oracle-gated by a decode roundtrip
(contract `es_bulk_roundtrip`), the same strategy as the Kafka codecs.
"""

from __future__ import annotations

import re
from typing import List, Optional

from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    row_image,
)


def _doc_id(pk_names: List[str]) -> F.Column:
    side = row_image()
    return F.concat_ws("_", *[side.getField(k).cast("string") for k in pk_names])


def encode_es_bulk(
    env: DataFrame,
    pk_names: List[str],
    sharding_key: Optional[str] = None,
    sharding_separator: str = "_",
) -> DataFrame:
    """Envelope -> (`bulk` NDJSON entry, `__seq` external version)."""
    is_del = F.col(ENVELOPE_OP) == OP_DELETE
    index = F.col(ENVELOPE_TABLE_ID)
    if sharding_key:
        shard = F.col(f"after.{sharding_key}").cast("string")
        index = F.when(
            ~is_del & shard.isNotNull(),
            F.concat(index, F.lit(sharding_separator), shard),
        ).otherwise(index)
    action_body = F.to_json(
        F.struct(
            index.alias("_index"),
            _doc_id(pk_names).alias("_id"),
        )
    )
    delete_line = F.concat(F.lit('{"delete":'), action_body, F.lit("}"))
    index_line = F.concat(
        F.lit('{"index":'), action_body, F.lit("}\n"), F.to_json(F.col("after"))
    )
    return env.select(
        F.when(is_del, delete_line).otherwise(index_line).alias("bulk"),
        F.col(ENVELOPE_SEQ).alias("__seq"),
    )


def decode_es_bulk(
    records: DataFrame,
    payload: T.StructType,
    table_id: Optional[str] = None,
    sharding_separator: Optional[str] = None,
) -> DataFrame:
    """Bulk entries -> envelope (the sink's verification half: what an ES
    index would hold after applying the requests). Delete entries carry no
    document, so `before` holds only the `_id`-derived identity — callers
    materialize by PK, which is exactly what the id encodes.

    Table-id derivation: pass ``table_id`` explicitly when known. Without
    it, the full ``_index`` is used verbatim (correct for unsharded
    streams, including table ids that contain underscores like
    ``db.order_items``); if the encoder sharded with a separator, pass the
    same ``sharding_separator`` and the shard suffix after its LAST
    occurrence is stripped — a separator that also appears inside the
    table id itself cannot be distinguished, so prefer ``table_id``."""
    action = F.coalesce(
        F.get_json_object(F.col("bulk"), "$.index._index").alias("i"),
        F.get_json_object(F.col("bulk"), "$.delete._index"),
    )
    is_del = F.get_json_object(F.col("bulk"), "$.delete._id").isNotNull()
    doc_json = F.when(
        ~is_del, F.element_at(F.split(F.col("bulk"), "\n", 2), 2)
    )
    doc = F.from_json(doc_json, payload)
    # reconstruct the delete identity from _id (single-PK decode path)
    del_id = F.get_json_object(F.col("bulk"), "$.delete._id")
    pk_field = payload.fields[0]
    before = F.when(
        is_del,
        F.struct(
            *(
                [del_id.cast(pk_field.dataType).alias(pk_field.name)]
                + [
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in payload.fields[1:]
                ]
            )
        ),
    )
    if table_id:
        tid = F.lit(table_id)
    elif sharding_separator:
        # sharding appends separator+value as a suffix -> strip from the
        # LAST separator to the end. Deletes are never sharded by the
        # encoder, so their _index is the table id verbatim — stripping
        # would corrupt separator-bearing ids (db.order_items -> db.order).
        sep = re.escape(sharding_separator)
        tid = F.when(
            ~is_del, F.regexp_replace(action, f"{sep}(?:(?!{sep}).)*$", "")
        ).otherwise(action)
    else:
        tid = action
    return records.select(
        tid.alias(ENVELOPE_TABLE_ID),
        F.when(is_del, F.lit(OP_DELETE)).otherwise(F.lit("INSERT")).alias(ENVELOPE_OP),
        before.alias("before"),
        doc.alias("after"),
        F.create_map(F.lit("sink"), F.lit("elasticsearch")).alias(ENVELOPE_META),
        F.col("__seq"),
    )


# -- factory option surface (ElasticsearchDataSinkFactory.java) -------------

REQUIRED_OPTIONS = ("hosts", "version")
OPTIONAL_OPTIONS = (
    "batch.size.max",
    "inflight.requests.max",
    "buffered.requests.max",
    "batch.size.max.bytes",
    "buffer.time.max.ms",
    "record.size.max.bytes",
    "username",
    "password",
    "sharding.suffix.key",
    "sharding.suffix.separator",
)

# characters Elasticsearch forbids in index names
# (ElasticsearchDataSinkFactory.ES_INDEX_ILLEGAL_CHARS)
_ES_INDEX_ILLEGAL_CHARS = '\\/*?"<>| ,#'


def parse_sharding_suffix_key(raw: str) -> dict:
    """'table1$col1;table2$col2' -> {'table1': 'col1', ...}
    (ElasticsearchDataSinkOptions.SHARDING_SUFFIX_KEY format)."""
    out: dict = {}
    if not raw:
        return out
    for part in raw.split(";"):
        part = part.strip()
        if not part:
            continue
        pieces = part.split("$", 1)
        if len(pieces) != 2 or not pieces[0] or not pieces[1]:
            raise ValueError(
                f"sharding.suffix.key is malformed: {part!r} "
                "(expected 'table$column;table$column')"
            )
        out[pieces[0].strip()] = pieces[1].strip()
    return out


def validate_elasticsearch_options(config: dict) -> dict:
    """Factory-style validation mirroring ElasticsearchDataSinkFactory:
    required keys present, unknown keys rejected, version 6/7/8, sharding
    separator free of ES index illegal characters."""
    known = set(REQUIRED_OPTIONS) | set(OPTIONAL_OPTIONS)
    unknown = sorted(k for k in config if k not in known and k != "name")
    if unknown:
        raise ValueError(
            f"unsupported option(s) for 'elasticsearch' sink: {', '.join(unknown)}"
        )
    missing = [k for k in REQUIRED_OPTIONS if config.get(k) in (None, "")]
    if missing:
        raise ValueError(
            f"'elasticsearch' sink missing required option(s): {', '.join(missing)}"
        )
    try:
        version = int(config["version"])
    except (TypeError, ValueError):
        raise ValueError(f"'version' must be an integer: {config['version']!r}")
    if version not in (6, 7, 8):
        raise ValueError(f"unsupported Elasticsearch version {version}")
    sep = str(config.get("sharding.suffix.separator", "_"))
    for c in sep:
        if c in _ES_INDEX_ILLEGAL_CHARS:
            raise ValueError(
                f"sharding.suffix.separator contains character {c!r} which is "
                "illegal in Elasticsearch index names"
            )
    return {
        "hosts": str(config["hosts"]),
        "version": version,
        "sharding_suffix_keys": parse_sharding_suffix_key(
            str(config.get("sharding.suffix.key", ""))
        ),
        "sharding_suffix_separator": sep,
    }
