"""Kafka pipeline sink: producer-record semantics over the JSON codecs.

The Spark rendition of the reference's Kafka sink record assembly
(pipeline-connector-kafka/.../PipelineKafkaRecordSerializationSchema.java:
104-160 + KafkaDataSinkOptions.java):

* **topic inference** (inferTopicName:142-158): explicit ``topic`` wins;
  else the first matching rule of ``sink.tableId-to-topic.mapping``
  (``selector:topic`` pairs split on ``;``, selectors are the shared
  Selectors dialect); else the TableId string. Resolved once per table
  (the reference memoises per TableId — control-plane, not per-record).
* **partitioning** (PartitionStrategy): ``all-to-zero`` pins partition 0;
  ``hash-by-key`` leaves the partition to the client's key hash — here
  computed as pmod(hash(key), num_partitions). (Divergence note: the
  Java client hashes with murmur2; same-key-same-partition holds, the
  concrete partition number differs.)
* **record key** (KeySerializationFactory + CsvSerializationSchema:95-116):
  row = (TableId, pk columns...) taken from the BEFORE image for DELETE
  and the AFTER image otherwise; ``key.format: json`` renders the object,
  ``csv`` the comma-joined line.
* **headers**: ``sink.add-tableId-to-header-enabled`` adds namespace /
  schemaName / tableName; ``sink.custom-header`` adds ``k:v`` pairs
  split on ``,``.
* **debezium-json.include-schema.enabled** wraps every value as
  ``{"schema": <connect schema>, "payload": <envelope>}`` where the
  connect schema block is generated per table from the CDC schema
  (convertSchemaToDebeziumSchema:244-258 + the type cases at :330-392:
  int16/int32/int64/float32/float64/bool/string, logical names for
  DATE / TIME / TIMESTAMP / DECIMAL).

Everything per-record compiles to built-in expressions (to_json /
format_string / hash) — the schema block is a per-table constant string,
so the hot path stays in codegen.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from ..core import types as ct
from ..core.selectors import Selectors, split_unescaped
from ..core.table_id import TableId
from ..sources.envelope import ENVELOPE_SEQ, row_image

PARTITION_STRATEGIES = ("all-to-zero", "hash-by-key")
KEY_FORMATS = ("json", "csv")
VALUE_FORMATS = ("debezium-json", "canal-json")


@dataclass
class KafkaSinkConfig:
    """`sink: kafka` options (KafkaDataSinkOptions.java)."""

    delivery_guarantee: str = "at-least-once"
    partition_strategy: str = "all-to-zero"
    key_format: str = "json"
    value_format: str = "debezium-json"
    topic: str = ""
    add_table_id_to_header: bool = False
    custom_headers: Dict[str, str] = field(default_factory=dict)
    table_mapping: str = ""  # sink.tableId-to-topic.mapping
    include_schema: bool = False
    properties: Dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, config: dict) -> "KafkaSinkConfig":
        strategy = str(config.get("partition.strategy", "all-to-zero")).lower()
        if strategy not in PARTITION_STRATEGIES:
            raise ValueError(
                f"partition.strategy must be one of {PARTITION_STRATEGIES}, "
                f"got {strategy!r}"
            )
        key_fmt = str(config.get("key.format", "json")).lower()
        if key_fmt not in KEY_FORMATS:
            raise ValueError(
                f"key.format must be one of {KEY_FORMATS}, got {key_fmt!r}"
            )
        value_fmt = str(config.get("value.format", "debezium-json")).lower()
        if value_fmt not in VALUE_FORMATS:
            raise ValueError(
                f"value.format must be one of {VALUE_FORMATS}, got {value_fmt!r}"
            )
        include_schema = (
            str(config.get("debezium-json.include-schema.enabled", "false")).lower()
            == "true"
        )
        if include_schema and value_fmt != "debezium-json":
            raise ValueError(
                "debezium-json.include-schema.enabled is only supported "
                "with value.format: debezium-json"
            )
        headers: Dict[str, str] = {}
        raw_headers = str(config.get("sink.custom-header", "") or "")
        if raw_headers.strip():
            for pair in raw_headers.split(","):
                bits = pair.split(":", 1)
                if len(bits) != 2:
                    raise ValueError(f"bad sink.custom-header entry: {pair!r}")
                headers[bits[0].strip()] = bits[1].strip()
        return cls(
            delivery_guarantee=str(
                config.get("sink.delivery-guarantee", "at-least-once")
            ),
            partition_strategy=strategy,
            key_format=key_fmt,
            value_format=value_fmt,
            topic=config.get("topic", "") or "",
            add_table_id_to_header=str(
                config.get("sink.add-tableId-to-header-enabled", "false")
            ).lower() == "true",
            custom_headers=headers,
            table_mapping=config.get("sink.tableId-to-topic.mapping", "") or "",
            include_schema=include_schema,
            properties={
                k[len("properties."):]: str(v)
                for k, v in config.items()
                if k.startswith("properties.")
            },
        )


def parse_selectors_to_topic_map(mapping: str) -> List[Tuple[Selectors, str]]:
    """``selector:topic;selector:topic`` -> ordered rule list
    (KafkaSinkUtils.parseSelectorsToTopicMap — first match wins)."""
    rules: List[Tuple[Selectors, str]] = []
    for entry in (mapping or "").split(";"):
        entry = entry.strip()
        if not entry:
            continue
        bits = split_unescaped(entry, ":")
        if len(bits) != 2:
            raise ValueError(f"bad tableId-to-topic mapping entry: {entry!r}")
        rules.append((Selectors(bits[0].strip()), bits[1].strip()))
    return rules


def infer_topic(config: KafkaSinkConfig, table_id: str) -> str:
    """inferTopicName: unified topic > first matching mapping rule >
    TableId string."""
    if config.topic:
        return config.topic
    tid = TableId.parse(table_id)
    for selectors, topic in parse_selectors_to_topic_map(config.table_mapping):
        if selectors.is_match(tid):
            return topic
    return table_id


# -- connect-schema block (include-schema mode) -----------------------------


def _connect_field(name: str, dtype: ct.DataType) -> dict:
    """One column -> Kafka-Connect JSON schema field
    (convertCDCDataTypeToDebeziumDataType cases)."""
    r = dtype.root
    f: dict
    if r in (ct.TINYINT, ct.SMALLINT):
        f = {"type": "int16"}
    elif r == ct.INT:
        f = {"type": "int32"}
    elif r == ct.BIGINT:
        f = {"type": "int64"}
    elif r == ct.FLOAT:
        f = {"type": "float"}
    elif r == ct.DOUBLE:
        f = {"type": "double"}
    elif r == ct.BOOLEAN:
        f = {"type": "boolean"}
    elif r == ct.DECIMAL:
        f = {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "version": 1,
            "parameters": {
                "scale": str(dtype.scale or 0),
                "connect.decimal.precision": str(dtype.precision),
            },
        }
    elif r == ct.DATE:
        f = {"type": "int32", "name": "io.debezium.time.Date", "version": 1}
    elif r == ct.TIME:
        f = {"type": "int64", "name": "io.debezium.time.MicroTime", "version": 1}
    elif r in (ct.TIMESTAMP, ct.TIMESTAMP_TZ):
        name_cls = (
            "io.debezium.time.MicroTimestamp"
            if (dtype.precision or 6) > 3
            else "io.debezium.time.Timestamp"
        )
        f = {"type": "int64", "name": name_cls, "version": 1}
    elif r == ct.TIMESTAMP_LTZ:
        f = {"type": "string", "name": "io.debezium.time.ZonedTimestamp",
             "version": 1}
    elif r in (ct.BINARY, ct.VARBINARY):  # BYTES == VARBINARY(MAX)
        f = {"type": "bytes"}
    else:
        f = {"type": "string"}
    f["optional"] = dtype.nullable
    f["field"] = name
    return f


def debezium_connect_schema(schema) -> str:
    """CDC Schema -> the per-table connect schema JSON string
    (convertSchemaToDebeziumSchema: struct{before, after} of optional
    per-column fields)."""
    cols = [_connect_field(c.name, c.type) for c in schema.columns]
    image = lambda fname: {
        "type": "struct", "fields": cols, "optional": True, "field": fname,
    }
    return json.dumps(
        {
            "type": "struct",
            "fields": [image("before"), image("after")],
            "optional": False,
        },
        separators=(",", ":"),
    )


# -- record assembly --------------------------------------------------------


def kafka_producer_records(
    env: DataFrame,
    config: KafkaSinkConfig,
    table_id: str,
    pk_names: List[str],
    *,
    num_partitions: int = 16,
    connect_schema_json: Optional[str] = None,
) -> DataFrame:
    """Envelope (single table) -> producer records
    ``(topic, partition, key, value, headers, __offset)``."""
    from ..sources.kafka_json import canal_value_expr, debezium_value_expr

    topic = infer_topic(config, table_id)
    tid = TableId.parse(table_id)

    key_img = row_image()
    if config.key_format == "json":
        key = F.to_json(
            F.struct(
                F.lit(table_id).alias("TableId"),
                *[key_img[k].alias(k) for k in pk_names],
            )
        )
    else:  # csv: TableId,pk1,pk2
        key = F.concat_ws(
            ",", F.lit(table_id), *[key_img[k].cast("string") for k in pk_names]
        )

    if config.value_format == "canal-json":
        value = canal_value_expr(env, pk_names=pk_names)
    else:
        value = debezium_value_expr(env)
    if config.include_schema:
        if connect_schema_json is None:
            raise ValueError(
                "include-schema mode needs the per-table connect schema "
                "(debezium_connect_schema)"
            )
        value = F.format_string(
            '{"schema": %s, "payload": %s}',
            F.lit(connect_schema_json), value,
        )

    if config.partition_strategy == "all-to-zero":
        partition = F.lit(0)
    else:
        partition = F.pmod(F.hash(key), F.lit(num_partitions))

    headers: Dict[str, str] = {}
    if config.add_table_id_to_header:
        headers["namespace"] = tid.namespace or ""
        headers["schemaName"] = tid.schema_name or ""
        headers["tableName"] = tid.table_name
    headers.update(config.custom_headers)
    header_items = [x for kv in headers.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    # key / value / partition / headers assemble in ONE projection over the
    # envelope — a pure map stage, no self-join, no shuffle
    return env.select(
        F.lit(topic).alias("topic"),
        partition.cast("int").alias("partition"),
        key.alias("key"),
        value.alias("value"),
        F.create_map(*header_items).cast("map<string,string>").alias("headers"),
        F.col(ENVELOPE_SEQ).alias("__offset"),
    )


def strip_connect_schema(records: DataFrame, value_col: str = "value") -> DataFrame:
    """Inverse of include-schema wrapping: extract the payload JSON (the
    consumer-side unwrap a schema-aware sink reader performs)."""
    payload = F.get_json_object(F.col(value_col), "$.payload")
    return records.withColumn(value_col, payload)
