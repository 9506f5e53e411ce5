"""Driver-side schema coordination.

The Spark collapse of the reference's SchemaOperator + SchemaCoordinator
(runtime/operators/schema/regular/SchemaOperator.java:150-228,
SchemaCoordinator.java:241-438): Spark's driver already centralizes
planning, so the RPC/FlushEvent dance reduces to plain driver code invoked
between epochs/micro-batches. Responsibilities:

  * keep originalSchemas (upstream) and evolvedSchemas (per sink table),
    both versioned (SchemaManager.java:56-68);
  * on a schema change: route it, rewrite per behavior
    (IGNORE / LENIENT / TRY_EVOLVE / EVOLVE / EXCEPTION —
    common/pipeline/SchemaChangeBehavior.java:28-32, semantics in
    docs/content/docs/core-concept/schema-evolution.md), apply the results
    to the evolved schema map, and surface the events a sink's
    MetadataApplier should execute;
  * honor the sink's included/excluded schema-change-type sets
    (SinkDef.getIncludedSchemaEvolutionTypes).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from ..core.events import (
    CreateTableEvent,
    SchemaChangeEvent,
    expand_schema_change_types,
)
from ..core.router import TableIdRouter
from ..core.schema import Schema
from ..core.schema_evolution import (
    apply_schema_change_event,
    get_schema_difference,
    is_schema_change_event_redundant,
    lenientize_schema_change_event,
    merge_create_table_events,
)
from ..core.table_id import TableId


class SchemaEvolveError(RuntimeError):
    pass


@dataclass
class SchemaCoordinator:
    router: TableIdRouter
    behavior: str = "LENIENT"
    included_types: Optional[set] = None  # None = all
    excluded_types: set = field(default_factory=set)
    # versioned maps: table -> list[Schema] (last = current)
    original_schemas: dict = field(default_factory=dict)
    evolved_schemas: dict = field(default_factory=dict)
    # sink DDL log: list[(sink_table_id, SchemaChangeEvent)]
    applied_ddl: list = field(default_factory=list)
    # per-target DDL aligned with evolved_schemas versions:
    # ddl_log[target][i] produced evolved_schemas[target][i]
    ddl_log: dict = field(default_factory=dict)

    def original_schema(self, table_id: TableId) -> Optional[Schema]:
        versions = self.original_schemas.get(table_id)
        return versions[-1] if versions else None

    def evolved_schema(self, table_id: TableId) -> Optional[Schema]:
        versions = self.evolved_schemas.get(table_id)
        return versions[-1] if versions else None

    def _type_allowed(self, event: SchemaChangeEvent) -> bool:
        t = event.TYPE
        if t == "CREATE_TABLE":
            return True  # create is never filtered
        if self.included_types is not None and t not in self.included_types:
            return False
        return t not in self.excluded_types

    @staticmethod
    def from_sink_def(router, behavior, include=(), exclude=()):
        included = expand_schema_change_types(include) if include else None
        excluded = expand_schema_change_types(exclude) if exclude else set()
        return SchemaCoordinator(
            router=router,
            behavior=behavior,
            included_types=included,
            excluded_types=excluded,
        )

    # -- the coordination step --------------------------------------------------
    def process_schema_change(self, event: SchemaChangeEvent) -> list:
        """Update schema state for an upstream schema change; returns the
        list of (sink_table_id, SchemaChangeEvent) applied downstream."""
        table_id = event.table_id
        # duplicate-delivery guard (SchemaCoordinator.java:372-380):
        # re-delivered events — duplicate CreateTableEvents from parallel
        # snapshot waves, restart replay of a checkpointed micro-batch —
        # are already reflected in the upstream schema; skip them instead
        # of double-applying (ADD would throw, versions would duplicate)
        if is_schema_change_event_redundant(self.original_schema(table_id), event):
            return []
        new_original = apply_schema_change_event(self.original_schema(table_id), event)
        self.original_schemas.setdefault(table_id, []).append(new_original)

        out = []
        for target in self.router.route(table_id):
            for evolved_event in self._deduce(event, target):
                current = self.evolved_schema(target)
                evolved_event = _retable(evolved_event, target)
                events = [evolved_event]
                if isinstance(evolved_event, CreateTableEvent) and current is not None:
                    # N->1 merge: widen the existing sink table by the
                    # difference events (SchemaMergingUtils
                    # .getSchemaDifference), never a second CREATE
                    merged = merge_create_table_events(
                        target, [current, evolved_event.schema]
                    )
                    events = get_schema_difference(target, current, merged)
                for ev in events:
                    self.evolved_schemas.setdefault(target, []).append(
                        apply_schema_change_event(self.evolved_schema(target), ev)
                    )
                    self.ddl_log.setdefault(target, []).append(ev)
                    out.append((target, ev))
        self.applied_ddl.extend(out)
        return out

    def _deduce(self, event: SchemaChangeEvent, target: TableId) -> list:
        """Behavior + type-filter rewrite (SchemaCoordinator
        .deduceEvolvedSchemaChanges:261)."""
        if isinstance(event, CreateTableEvent):
            return [event]
        behavior = self.behavior.upper()
        if behavior == "EXCEPTION":
            raise SchemaEvolveError(
                f"Schema change {event.TYPE} on {event.table_id} rejected by "
                "EXCEPTION behavior"
            )
        if behavior == "IGNORE" or not self._type_allowed(event):
            return []
        current = self.evolved_schema(target)
        if current is None:
            return []
        if behavior == "LENIENT":
            return lenientize_schema_change_event(event, current)
        if behavior in ("EVOLVE", "TRY_EVOLVE"):
            try:
                apply_schema_change_event(current, event)  # validate
                return [event]
            except Exception:
                if behavior == "TRY_EVOLVE":
                    return []
                raise
        raise ValueError(f"Unknown schema change behavior {self.behavior}")


def _retable(event: SchemaChangeEvent, target: TableId) -> SchemaChangeEvent:
    from dataclasses import replace

    return replace(event, table_id=target)


def rename_map_through(ddl_events) -> dict:
    """Map column names as they were at some schema version to their final
    names after applying `ddl_events` (only RENAME_COLUMN changes names)."""
    from ..core.events import RenameColumnEvent

    mapping: dict = {}

    def current(name: str) -> str:
        return mapping.get(name, name)

    for ev in ddl_events:
        if isinstance(ev, RenameColumnEvent):
            ren = dict(ev.name_mapping)
            for original, cur in list(mapping.items()):
                if cur in ren:
                    mapping[original] = ren[cur]
            for old, new in ren.items():
                if old not in mapping.values() and old not in mapping:
                    mapping[old] = new
    return mapping
