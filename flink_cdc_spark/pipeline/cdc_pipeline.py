"""Continuous CDC pipeline: live JDBC database -> incremental LSM state.

The full reference loop (MySqlDataSource -> pipeline -> Paimon sink,
flink-cdc's reason to exist) on the engine's own connectors: bootstrap via
the chunked LW/HW hybrid snapshot, then poll the trigger-capture log
incrementally — every poll is a micro-batch merged into the LSM store as
one O(batch) delta commit. Source-side DDL (ALTER TABLE) is detected by
metadata diff at each poll and the capture channel is re-aligned
(refresh_capture). Each loop holds a ``PipelineFront`` and writes through
the LSM sink path it shares with the wire runner (sinks/lsm_store.py):
detected DDL goes through the schema coordinator to the store's
``apply_schema_change``, data through transform, route, coercion and merge.

The consumed offset is persisted next to the state (checkpoint analog), so
a restarted pipeline resumes from where it stopped — the same contract as
the reference's offset state in checkpoints.

At scale: the driver does control-plane work only (offset bookkeeping,
metadata diffs); row data moves exclusively through executor-side
spark.read.jdbc partitions into executor-written parquet deltas.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import SparkSession

from ..core.events import CreateTableEvent
from ..core.schema import Schema
from ..core.schema_evolution import (
    get_least_common_schema,
    get_schema_difference,
)
from ..core.table_id import TableId
from ..sinks.lsm_store import LsmStateStore
from ..sources.envelope import wrap_as_inserts
from ..sources.jdbc_live import (
    JdbcLiveSource,
    JdbcLiveSourceConfig,
    refresh_capture,
)
from .composer import PipelineFront
from .definition import PipelineDef, SinkDef, SourceDef


class JdbcCdcPipeline:
    """One source table, continuously replicated into an LSM state table."""

    def __init__(
        self,
        spark: SparkSession,
        source_cfg: JdbcLiveSourceConfig,
        state_root: str,
        compact_every: int = 8,
    ):
        self.spark = spark
        self.cfg = source_cfg
        self.source = JdbcLiveSource(spark, source_cfg)
        self.state = LsmStateStore(spark, state_root, compact_every=compact_every)
        self.table = self.source.table_id
        self._tid = TableId.parse(self.table)
        self.front = PipelineFront(PipelineDef(SourceDef("jdbc"), SinkDef("lake")))
        self._offset_file = os.path.join(
            state_root, self.table.replace("/", "_") + ".offset"
        )

    # -- offset checkpointing ---------------------------------------------
    def _load_offset(self) -> Optional[int]:
        if os.path.exists(self._offset_file):
            with open(self._offset_file) as f:
                return int(f.read().strip())
        return None

    def _store_offset(self, offset: int) -> None:
        os.makedirs(os.path.dirname(self._offset_file), exist_ok=True)
        with open(self._offset_file, "w") as f:
            f.write(str(offset))

    # -- lifecycle ---------------------------------------------------------
    def bootstrap(self) -> None:
        """Initial load: hybrid snapshot+tail (or resume from a stored
        offset after a restart — the snapshot is then already in state)."""
        self._apply_sink_schema(
            [CreateTableEvent(self._tid, self.source.ep.discover_schema(self.cfg.table))]
        )
        if self._load_offset() is not None:
            return  # restart: state + offset already persisted
        # record the consumed-through offset BEFORE the plan executes:
        # events landing between this read and plan execution are consumed
        # by the tail AND replayed by the next poll — safe, because the
        # keyed last-image merge is idempotent (at-least-once delivery,
        # exactly-once state), the same contract as the reference's
        # backfill replay.
        hw = self.source.current_offset()
        env = self.source.read()  # startup-mode driven (INITIAL by default)
        self._merge_env(env)
        self.source.release_caches()  # merge materialized the snapshot
        self._store_offset(hw)

    def _merge_env(self, env) -> None:
        """Single merge point for bootstrap/poll/repair: the table's
        transform, then route -> coercion -> merge into every sink table."""
        env = self.front.transform(self._tid, env, self.front.source_schema(self._tid))
        self.front.merge_routed(self.state, self._tid, env)

    def _apply_sink_schema(self, events) -> None:
        """Detected source DDL through the schema coordinator to the sink
        tables' ``apply_schema_change`` at DDL-detect time, so a TRAILING
        DDL (no subsequent data) is still visible in reads."""
        for event in events:
            self.front.apply_sink_ddl(self.state, event)

    def _repair_marker(self) -> str:
        return self._offset_file + ".repair_pending"

    def poll_once(self) -> int:
        """One incremental micro-batch: detect DDL, re-align capture,
        merge the new log slice. Returns number of log events consumed.

        DDL handling: events logged between the source-side ALTER and this
        poll were captured by the *old* triggers, so their images lack any
        newly added column (a binlog would have carried it — trigger
        capture cannot retroactively). After merging the slice, the keys it
        touched are re-read from the live table through JDBC and upserted
        as a repair commit — O(stale window), not O(table), and only on
        the rare DDL poll.

        CRASH-REPLAY: the repair obligation is persisted (a marker file
        next to the offset) BEFORE any capture/schema mutation, because a
        restarted pipeline re-discovers the already-current live schema,
        detects NO events, and would otherwise re-merge the stale-trigger
        slice without ever repairing it — or refreshing the capture
        triggers (wave-13b finding: a crash between the DDL poll's merge
        and its repair silently pinned the new column NULL). The marker
        clears only AFTER the offset store, so every replay path repairs
        at least once; the repair itself is idempotent (it upserts the
        live table's own current rows)."""
        events, _ = self.source.detect_schema_changes(
            self.front.source_schema(self._tid)
        )
        marker = self._repair_marker()
        if events:
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            with open(marker, "w") as f:
                f.write("pending")
            refresh_capture(self.source.ep, self.cfg.table)
            self._apply_sink_schema(events)
        pending = os.path.exists(marker)
        if pending and not events:
            # replaying a crashed DDL poll: the crash may have landed
            # before the capture refresh / sink-schema push — re-assert
            # both (idempotent) so the stale window ends here. The sink
            # catches up by the difference events from its manifest to
            # the coordinator's schema, compared as Spark types and
            # widened, so it only ever moves forward.
            refresh_capture(self.source.ep, self.cfg.table)
            for target in self.front.router.route(self._tid):
                have = self.state.current_schema(str(target))
                if have is None:
                    continue
                have = Schema.from_spark_struct(have)
                want = get_least_common_schema(have, Schema.from_spark_struct(
                    self.front.coordinator.evolved_schema(target).to_spark_struct()
                ))
                for ev in get_schema_difference(target, have, want):
                    self.state.apply_schema_change(str(target), ev)
        last = self._load_offset() or 0
        hw = self.source.current_offset()
        if hw <= last:
            if pending:
                # nothing was logged under the old triggers after the
                # consumed offset (or the crashed poll already stored its
                # offset, i.e. repair ran) — no stale images to repair
                os.remove(marker)
            return 0
        env = self.source.read_log_envelope(last).where(f"__seq <= {hw}")
        self._merge_env(env)
        if events or pending:
            self._repair_touched_keys(env)
        self._store_offset(hw)
        if pending or events:
            os.remove(marker)
        return hw - last

    # above this many touched keys the repair read switches from pushed
    # IN-predicates to a chunked re-scan + executor-side semi join
    repair_collect_cap = 10_000

    def _repair_touched_keys(self, env) -> None:
        from pyspark.sql import functions as F

        from ..sources.jdbc_live import fresh_rows_for_keys

        pk = self.cfg.key_column
        keys_df = (
            env.select(
                F.coalesce(F.col(f"after.{pk}"), F.col(f"before.{pk}")).alias(pk)
            )
            .distinct()
        )
        fresh = fresh_rows_for_keys(
            self.source, keys_df, pk, collect_cap=self.repair_collect_cap
        )
        if fresh is None:
            return
        # its own (later) commit: wins over the slice for keys still present;
        # deleted keys are absent here, so their tombstones stand
        self._merge_env(wrap_as_inserts(fresh, self.table))

    def run(self, polls: int, interval_s: float = 0.0) -> int:
        """Poll N times (the availableNow analog of a continuous loop)."""
        total = 0
        for _ in range(polls):
            total += self.poll_once()
            if interval_s:
                time.sleep(interval_s)
        return total

    def current_state(self):
        return self.state.read(self.table)


class PostgresCdcPipeline:
    """Continuous CDC from a live PostgreSQL server into LSM state: the
    logical replication slot IS the checkpoint — ``poll_once`` consumes it
    (``pg_logical_slot_get_changes``), so a restarted pipeline resumes
    exactly where the slot stands, with no side file. Source-side DDL is
    detected by metadata diff (logical decoding does not emit DDL — the
    same gap Debezium fills with its schema history topic; here the
    current metadata is authoritative and old rows null-pad)."""

    def __init__(self, spark, source, state_root: str, compact_every: int = 8):
        """source: a PostgresCdcSource (its cfg.slot must exist or be
        created via bootstrap)."""
        self.spark = spark
        self.source = source
        self.state = LsmStateStore(spark, state_root, compact_every=compact_every)
        self.table = source.table_id
        self._tid = TableId.parse(self.table)
        self.front = PipelineFront(PipelineDef(SourceDef("postgres"), SinkDef("lake")))
        self._snap_root = os.path.join(state_root, "_pg_snapshots")

    # shared with the JDBC loop: the sink path and the polling loop
    _merge_env = JdbcCdcPipeline._merge_env
    _apply_sink_schema = JdbcCdcPipeline._apply_sink_schema
    run = JdbcCdcPipeline.run
    current_state = JdbcCdcPipeline.current_state

    def bootstrap(self) -> None:
        """Create the slot (its position = now), then snapshot. Changes
        committed between slot creation and the snapshot read replay from
        the slot over the snapshot — idempotent last-image merge, the same
        at-least-once contract as the JDBC loop."""
        self._apply_sink_schema(
            [CreateTableEvent(self._tid, self.source.discover_schema())]
        )
        self.source.create_slot()
        if self.state.current_schema(self.table) is not None:
            return  # restart: state exists, the slot holds the position
        import uuid

        snap = self.source.snapshot(
            os.path.join(self._snap_root, uuid.uuid4().hex[:8])
        )
        self._merge_env(wrap_as_inserts(snap, self.table))

    def poll_once(self) -> int:
        """One micro-batch under the flush-then-confirm contract: capture a
        WAL cap, PEEK the slot up to it, merge, and only then advance the
        slot's confirmed position to the cap (Debezium flushes records
        before confirming the LSN). A crash between merge and advance
        replays the same window on restart — safe, because the keyed
        last-image merge is idempotent (at-least-once delivery,
        exactly-once state)."""
        self._apply_sink_schema(get_schema_difference(
            self._tid, self.front.source_schema(self._tid),
            self.source.discover_schema(),
        ))
        cap = self.source.current_lsn()
        env = self.source.read_changes(peek=True, upto_lsn=cap)
        n = env.count()
        if n:
            self._merge_env(env)
        self.source.advance_slot(cap)  # confirm only after the merge landed
        return n


class MultiTableCdcPipeline:
    """Discovery-driven continuous replication of many tables through the
    full pipeline surface: selector-matched tables from live metadata, a
    per-table transform (first matching rule), routing (1->N fan-out /
    renames), LSM state per sink table. The live composition of what the
    YAML pipeline declares — `execution.runtime-mode: STREAMING` with a
    `jdbc` source runs exactly this loop (cli.py).

    Reference scope: a multi-table MySqlDataSource feeding the composed
    pipeline (FlinkPipelineComposer.translate) continuously.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        state_root: str,
        pipeline_def=None,
        tables_selector: str = r"app.\.*",
        chunk_size: int = 8096,
        udf_names=frozenset(),
        shuffle_partitions=None,
    ):
        from ..sources.jdbc_live import JdbcEndpoint

        self.spark = spark
        self.url = url
        self.state_root = state_root
        # per-table state relations are table-sized, not corpus-sized: a
        # caller replicating small/medium tables scopes the merge shuffle
        # width down (None = session default — correct when one captured
        # table IS corpus-scale)
        self.shuffle_partitions = shuffle_partitions
        self.front = PipelineFront(
            pipeline_def or PipelineDef(SourceDef("jdbc"), SinkDef("lake")), udf_names
        )
        self.tables_selector = tables_selector
        self.chunk_size = chunk_size
        ep = JdbcEndpoint(spark, url)
        self.pipes = {}
        for tid in ep.discover_tables(selectors=tables_selector):
            self._add_pipe(ep, tid)

    def _add_pipe(self, ep, tid) -> bool:
        schema = ep.discover_schema(tid.table_name)
        if not schema.primary_keys:
            return False
        cfg = JdbcLiveSourceConfig(
            url=self.url,
            table=tid.table_name,
            key_column=schema.primary_keys[0],
            table_id=str(tid),
            chunk_size=self.chunk_size,
        )
        self.pipes[str(tid)] = _RoutedTablePipe(self, cfg)
        return True

    def capture_newly_added(self) -> list:
        """`scan.newly-added-table.enabled` semantics
        (base/source/assigner/SnapshotSplitAssigner.java:235-287): rescan
        the live metadata for selector-matched tables not yet captured and
        start each one with its own snapshot phase — existing pipes keep
        streaming, exactly the reference's
        suspend-free newly-added-tables process (each table's snapshot /
        stream handoff is already per-pipe LW/HW-fenced, so a new table
        joining late never disturbs captured ones)."""
        from ..sources.jdbc_live import JdbcEndpoint

        ep = JdbcEndpoint(self.spark, self.url)
        added = []
        with self._scope():
            for tid in ep.discover_tables(selectors=self.tables_selector):
                if str(tid) in self.pipes:
                    continue
                if self._add_pipe(ep, tid):
                    self.pipes[str(tid)].bootstrap()
                    added.append(str(tid))
        return added

    def _scope(self):
        import contextlib

        from ..streaming.windowed import scoped_shuffle_partitions

        if self.shuffle_partitions:
            return scoped_shuffle_partitions(self.spark, self.shuffle_partitions)
        return contextlib.nullcontext()

    def bootstrap(self) -> None:
        with self._scope():
            for pipe in self.pipes.values():
                pipe.bootstrap()

    def poll_once(self, rescan: bool = False) -> int:
        if rescan:
            self.capture_newly_added()
        with self._scope():
            return sum(pipe.poll_once() for pipe in self.pipes.values())

    def run(self, polls: int, interval_s: float = 0.0,
            rescan_new_tables: bool = False) -> int:
        total = 0
        for _ in range(polls):
            total += self.poll_once(rescan=rescan_new_tables)
            if interval_s:
                time.sleep(interval_s)
        return total

    def current_state(self, sink_table: str):
        # NOTE: returns a LAZY frame — the shuffle width in force at
        # ACTION time governs its exchanges, so callers wanting the scoped
        # width must evaluate inside their own scope
        from ..sinks.lsm_store import LsmStateStore

        return LsmStateStore(self.spark, self.state_root).read(sink_table)

    def sink_tables(self):
        out = set()
        for pipe in self.pipes.values():
            out.update(pipe.targets())
        return sorted(out)


class _RoutedTablePipe(JdbcCdcPipeline):
    """One source table inside a MultiTableCdcPipeline: the single-table
    lifecycle through the parent's front, whose transform rules and
    routes may send every batch to several sink tables."""

    def __init__(self, parent: MultiTableCdcPipeline, cfg: JdbcLiveSourceConfig):
        super().__init__(parent.spark, cfg, parent.state_root)
        self.front = parent.front

    def targets(self):
        return [str(t) for t in self.front.router.route(self._tid)]
