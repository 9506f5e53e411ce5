"""Pipeline composers: PipelineDef -> per-sink-table DataFrames.

The Spark analog of FlinkPipelineComposer.translate
(flink-cdc-composer/.../flink/FlinkPipelineComposer.java:120-261) in batch
mode (BatchSchemaOperator path): source -> transform (first matching rule,
transform.md:388-401) -> route (fan-out / N->1 merge) -> materializing sink.
``PipelineFront`` is the source -> transform -> schema-coordination front
that both composers, the wire runner (streaming/runner.py) and the live
JDBC/Postgres loops (pipeline/cdc_pipeline.py) share; it also holds the
one LSM sink path of the latter two (sinks/lsm_store.py).

Everything stays declarative DataFrame ops so Catalyst does column pruning,
predicate pushdown and join/shuffle planning; the composer's own logic is
driver-side metadata (which tables, which rules, which routes).

N->1 merged tables are aligned to the least-common schema
(core/schema_evolution.py merge_create_table_events) by
operators/coerce.py — the Spark rendition of
SchemaDerivator.coerceDataRecord (SchemaDerivator.java:299).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.router import RouteRule, TableIdRouter
from ..core.schema import Schema
from ..core.schema_evolution import merge_create_table_events
from ..core.table_id import TableId
from ..operators.coerce import coerce_envelope_payload
from ..operators.transform import TransformProcessor, TransformRule
from ..sinks.materialize import materialize_changelog
from ..sources.envelope import ENVELOPE_TABLE_ID, payload_struct
from .definition import PipelineDef


@dataclass
class TableStream:
    """One source table's changelog + schema sidecar."""

    table_id: TableId
    df: DataFrame
    schema: Schema
    insert_only: bool = False


@dataclass
class PipelineResult:
    # sink table id -> materialized current-state DataFrame
    tables: dict = field(default_factory=dict)
    # sink table id -> changelog envelope feeding it (pre-materialization)
    changelogs: dict = field(default_factory=dict)
    # sink table id -> Schema sidecar
    schemas: dict = field(default_factory=dict)


class PipelineFront:
    """The pipeline front: Source -> PreTransform -> PostTransform ->
    SchemaOperator (SURVEY.md §2.1 topology; FlinkPipelineComposer.java:
    120-261). Both composers, the wire runner and the live JDBC loop hold
    one; it owns the router, the transform rules and the schema
    coordinator.

    Two schemas per table, as in the reference: the PreTransform state
    (``source_schema``) is the table as the source emits it — data
    decodes with it and the transform compiles against it — while the
    coordinator only ever sees post-transform schemas. A CREATE reaches
    the coordinator rewritten to the transform's output; a later change
    reaches it only if it passes the projection
    (PostTransformOperator.java:244-273)."""

    def __init__(self, pipeline: PipelineDef, udf_names=frozenset()):
        from .schema_coordinator import SchemaCoordinator

        self.pipeline = pipeline
        self.udf_names = frozenset(udf_names)
        self.router = TableIdRouter(
            [
                RouteRule(r.source_table, r.sink_table, r.replace_symbol, r.description)
                for r in pipeline.routes
            ],
            route_mode=pipeline.config.route_mode,
        )
        self.coordinator = SchemaCoordinator.from_sink_def(
            self.router,
            pipeline.config.schema_change_behavior,
            pipeline.sink.include_schema_evolution_types,
            pipeline.sink.exclude_schema_evolution_types,
        )
        # source-declared metadata keys (`metadata.list: op_ts`) bind as
        # bare identifiers to the envelope meta map (transform.md:74-96)
        raw = str((pipeline.source.config or {}).get("metadata.list", "") or "")
        self.meta_keys = tuple(k.strip() for k in raw.split(",") if k.strip())
        rules = [
            TransformRule(
                source_table=t.source_table,
                projection=t.projection,
                filter=t.filter,
                primary_keys=tuple(t.primary_keys),
                partition_keys=tuple(t.partition_keys),
                table_options=tuple(t.table_options),
                converter_after_transform=t.converter_after_transform,
                description=t.description,
            )
            for t in pipeline.transforms
        ]
        self._rules = [(rule, rule.selectors()) for rule in rules]
        self._source_schemas: dict = {}  # TableId -> Schema (PreTransform)

    def _rule(self, table_id: TableId) -> Optional[TransformRule]:
        """The first matching transform rule (transform.md:388-401)."""
        for rule, selectors in self._rules:
            if selectors.is_match(table_id):
                return rule
        return None

    def processor(self, table_id: TableId, schema: Schema, payload=None):
        """The compiled transform for a table whose source schema is
        `schema`, or None when no rule matches. `payload` is the physical
        image struct, when it differs from `schema`'s."""
        rule = self._rule(table_id)
        if rule is None:
            return None
        return TransformProcessor(
            rule,
            payload or schema.to_spark_struct(),
            meta_keys=self.meta_keys,
            local_time_zone=self.pipeline.config.local_time_zone,
            udf_names=self.udf_names,
            logical_schema=schema,
        )

    def transform(self, table_id: TableId, df: DataFrame, schema: Schema) -> DataFrame:
        """`df` through the table's transform; unchanged when no rule matches."""
        proc = self.processor(table_id, schema)
        return df if proc is None else proc.apply(df)

    def source_schema(self, table_id: TableId) -> Optional[Schema]:
        return self._source_schemas.get(table_id)

    def apply_ddl(self, event) -> list:
        """One upstream schema change through the front; returns the
        (sink table, event) pairs the coordinator applied downstream."""
        from ..core.events import CreateTableEvent
        from ..core.schema_evolution import (
            apply_schema_change_event,
            is_schema_change_event_redundant,
        )

        tid = event.table_id
        current = self._source_schemas.get(tid)
        if not is_schema_change_event_redundant(current, event):
            self._source_schemas[tid] = apply_schema_change_event(current, event)
        if isinstance(event, CreateTableEvent):
            proc = self.processor(tid, event.schema)
            if proc is not None:
                event = CreateTableEvent(tid, proc.output_schema(event.schema))
        elif not self._passes_projection(event):
            return []
        return self.coordinator.process_schema_change(event)

    # -- the LSM sink path (sinks/lsm_store.py) ------------------------------
    def apply_sink_ddl(self, state, event) -> None:
        """One upstream schema change through the front into `state`: each
        (sink table, event) the coordinator emits goes to the store's
        MetadataApplier, ``apply_schema_change``."""
        for target, evolved_event in self.apply_ddl(event):
            state.apply_schema_change(str(target), evolved_event)

    def merge_routed(self, state, table_id: TableId, env: DataFrame) -> None:
        """A transformed envelope of `table_id` into each of its routed
        sink tables in `state`, coerced to the coordinator's sink schema."""
        for target in self.router.route(table_id):
            schema = self.coordinator.evolved_schema(target)
            if schema is None:
                raise ValueError(f"No sink schema for {target}")
            struct = schema.to_spark_struct()
            routed = env.withColumn(ENVELOPE_TABLE_ID, F.lit(str(target)))
            state.merge(
                str(target), coerce_envelope_payload(routed, struct), struct,
                list(schema.primary_keys),
                partition_keys=list(schema.partition_keys),
            )

    def _passes_projection(self, event) -> bool:
        """A wildcard projection passes every change; an explicit one
        only passes changes touching projected columns
        (PostTransformOperator.java:244-273)."""
        rule = self._rule(event.table_id)
        if rule is None or not rule.projection:
            return True
        from ..expressions.projection import parse_projection

        items = parse_projection(rule.projection)
        if any(p.is_wildcard for p in items):
            return True
        projected = {p.output_name for p in items}
        t = event.TYPE
        if t == "ADD_COLUMN":
            return False  # new upstream columns aren't projected
        if t == "DROP_COLUMN":
            return any(c in projected for c in event.dropped_column_names)
        if t == "RENAME_COLUMN":
            return any(old in projected for old, _ in event.name_mapping)
        if t == "ALTER_COLUMN_TYPE":
            return any(c in projected for c, _ in event.type_mapping)
        return True


class EventPipelineComposer:
    """Replays a scripted event stream (data changes + DDL) through the
    pipeline front, then coerces every epoch to its sink table's final
    evolved schema and materializes. The batch analog of the reference's
    values-connector integration tests (FlinkPipelineComposerITCase /
    SchemaEvolveTest); the wire runner drives the same front per
    micro-batch, so both give one result over one input."""

    def __init__(self, spark: SparkSession, pipeline: PipelineDef, udf_names=frozenset()):
        self.spark = spark
        self.front = PipelineFront(pipeline, udf_names)

    def run(self, events) -> PipelineResult:
        """events: ordered DataChangeEvent | SchemaChangeEvent stream."""
        from ..core.events import SchemaChangeEvent
        from ..sources.values_source import Epoch, ValuesSource
        from .schema_coordinator import rename_map_through

        source = ValuesSource(self.spark, events)
        coordinator = self.front.coordinator
        per_sink: dict = {}  # sink table str -> list[envelope df (pre-coercion)]
        epoch_idx = 0

        for item in source.epochs():
            if isinstance(item, SchemaChangeEvent):
                # data-plane effects of table-level DDL: truncate/drop
                # discard rows accumulated for the target so far
                for target, ev in self.front.apply_ddl(item):
                    if ev.TYPE in ("TRUNCATE_TABLE", "DROP_TABLE"):
                        per_sink.pop(str(target), None)
                continue

            epoch: Epoch = item
            df = source.epoch_dataframe(epoch, seq_start=epoch_idx << 32)
            epoch_idx += 1
            df = self.front.transform(epoch.table_id, df, epoch.schema)
            for target in self.front.router.route(epoch.table_id):
                routed = df.withColumn(ENVELOPE_TABLE_ID, F.lit(str(target)))
                version = len(coordinator.evolved_schemas.get(target, []))
                per_sink.setdefault(str(target), []).append((routed, target, version))

        result = PipelineResult()
        for sink_table, frames in per_sink.items():
            final_schema = coordinator.evolved_schema(TableId.parse(sink_table))
            if final_schema is None:
                raise ValueError(f"No CreateTableEvent seen for sink table {sink_table}")
            target_struct = final_schema.to_spark_struct()
            coerced = []
            for frame, target, version in frames:
                # columns renamed after this frame's emission need source-name
                # redirection during coercion
                later_ddl = coordinator.ddl_log.get(target, [])[version:]
                fwd = rename_map_through(later_ddl)  # emission name -> final name
                source_names = {final: src for src, final in fwd.items()}
                coerced.append(coerce_envelope_payload(frame, target_struct, source_names))
            env = reduce(DataFrame.unionByName, coerced)
            result.changelogs[sink_table] = env
            result.schemas[sink_table] = final_schema
            result.tables[sink_table] = materialize_changelog(
                env, list(final_schema.primary_keys)
            )
        return result


class BatchPipelineComposer:
    def __init__(self, spark: SparkSession, pipeline: PipelineDef, udf_names=frozenset()):
        self.spark = spark
        self.front = PipelineFront(pipeline, udf_names)

    def compose(self, streams) -> PipelineResult:
        """streams: iterable[TableStream] — one per source table."""
        result = PipelineResult()
        # sink table id -> list[(envelope df, schema, insert_only)]
        per_sink: dict = {}

        for stream in streams:
            df, schema = stream.df, stream.schema
            proc = self.front.processor(stream.table_id, schema, payload_struct(df))
            if proc is not None:
                df = proc.apply(df)
                schema = proc.output_schema(schema)

            for target in self.front.router.route(stream.table_id):
                routed = df.withColumn(ENVELOPE_TABLE_ID, F.lit(str(target)))
                per_sink.setdefault(str(target), []).append(
                    (routed, schema, stream.insert_only)
                )

        for sink_table, parts in per_sink.items():
            if len(parts) == 1:
                env, schema, insert_only = parts[0]
            else:
                schema = merge_create_table_events(
                    TableId.parse(sink_table), [s for _, s, _ in parts]
                )
                struct = schema.to_spark_struct()
                env = reduce(
                    DataFrame.unionByName,
                    [coerce_envelope_payload(p, struct) for p, _, _ in parts],
                )
                insert_only = all(io for _, _, io in parts)
            result.changelogs[sink_table] = env
            result.schemas[sink_table] = schema
            result.tables[sink_table] = materialize_changelog(
                env, list(schema.primary_keys), insert_only=insert_only
            )
        return result
