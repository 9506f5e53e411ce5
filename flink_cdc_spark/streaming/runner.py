"""Structured Streaming pipeline runner.

The streaming shape of the engine (SURVEY.md §7 phase 4):

    readStream(wire JSON) -> foreachBatch(process_batch) -> state store

Each micro-batch goes through the same ``PipelineFront``
(pipeline/composer.py) as the event composer: wire payloads decode with
the front's pre-transform source schema, the transform compiles against
it, and the sink side reads the coordinator's post-transform schemas
(SURVEY.md §2.1 topology). Then the LSM sink path shared with the live
loops (sinks/lsm_store.py: route -> coercion -> MERGE, coordinator DDL ->
``apply_schema_change``), with the reference's FlushEvent/coordinator
dance collapsed into batch segmentation:
DDL records split the batch at their sequence positions; every data segment
is fully merged into the sink state *before* the DDL is applied, exactly
the "flush then apply DDL on a consistent boundary" contract of
runtime/operators/schema/regular/SchemaOperator.java:150-228.

One control job per epoch: the DDL records are collected (few, so they
sort on the driver) and an ``Observation`` on that same collect returns the
tables with data rows and the data's sequence range. When no DDL falls
inside that range, all the data is one segment and that table set is the
segment's; otherwise a presence pass (one ``groupBy`` over segment and
table) assigns tables to segments. The collect also fills the batch cache,
so each table's delta write that follows is the epoch's only other job.

The epoch's plans are rebuilt every epoch from SQL text: the control
job, the wire decode (``from_json`` with the source schema as DDL text),
the transform, the coercion and the LSM row-image select are each one
``where`` / ``selectExpr`` over strings. A plan of ``Column`` objects
costs one or more driver→JVM calls per field and operator, which at a
few thousand calls was the largest fixed cost of a small epoch; as text
an epoch takes a few dozen. Nothing is cached per schema version: most
epochs of an evolving stream change the schema anyway.

Per-key ordering under shuffle: a delta commit keeps every change with its
wire sequence number, the merge-on-read window orders by (commit, sequence)
and existing state sorts below every new commit, so last-image-per-key is
deterministic (SURVEY.md §7 hard-list #5).

The state store is the Paimon-style merge-on-read ``LsmStateStore``:
O(batch) delta commits, metadata-only DDL, amortized compaction.
"""

from __future__ import annotations

import json
from bisect import bisect_right
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..core.sql_text import quote, sql_string, sql_type
from ..core.table_id import TableId
from ..pipeline.composer import PipelineFront
from ..pipeline.definition import PipelineDef
from ..sinks.lsm_store import LsmStateStore
from ..sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
)
from .wire import KIND_DATA, KIND_DDL, WIRE_SCHEMA, ddl_from_dict


class StreamingPipelineRunner:
    """Drives a wire-format changelog stream through the pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        pipeline: PipelineDef,
        state_root: str,
        checkpoint_dir: str,
        udf_names=frozenset(),
        parallel_metadata: bool = False,
        primary_keys: Optional[dict] = None,
        shuffle_partitions: Optional[int] = None,
        compact_every: int = 8,
    ):
        self.spark = spark
        self.pipeline = pipeline
        self.front = PipelineFront(pipeline, udf_names)
        self.coordinator = self.front.coordinator
        # parallel-metadata source mode (DataSource.isParallelMetadataSource,
        # common/source/DataSource.java:51): partitions may carry divergent
        # payload schemas and no in-band DDL; each batch starts with a
        # distributed schema discovery + reduction
        # (runtime/operators/schema/distributed/SchemaCoordinator.java).
        self.parallel_metadata = parallel_metadata
        self.primary_keys = dict(primary_keys or {})
        self.state = LsmStateStore(spark, state_root, compact_every=compact_every)
        self.checkpoint_dir = checkpoint_dir
        self.batches_seen = 0
        # bounded-replay callers (the file-replay bridges) pass a small
        # width: their micro-batches are tiny, and the LSM merge's state
        # shuffles at the session default (32) are pure fixed overhead.
        # None = leave the session width alone (the at-scale default).
        self.shuffle_partitions = shuffle_partitions

    # -- plumbing ----------------------------------------------------------

    def start(self, source_dir: str, available_now: bool = True):
        """Start the stream over a directory of wire JSON files."""
        wire = self.spark.readStream.schema(WIRE_SCHEMA).json(source_dir)
        writer = (
            wire.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available(self, source_dir: str, timeout: int = 300) -> None:
        import contextlib

        from .windowed import scoped_shuffle_partitions, unload_state_store_providers

        scope = (
            scoped_shuffle_partitions(self.spark, self.shuffle_partitions)
            if self.shuffle_partitions
            else contextlib.nullcontext()
        )
        # the streaming query CLONES the session at start(), snapshotting
        # the scoped width — so the scope need only bracket start()
        with scope:
            q = self.start(source_dir, available_now=True)
            q.awaitTermination(timeout)
        # checkpoint committed: clear the persisted in-flight markers
        self.state.seal_all()
        unload_state_store_providers(self.spark)

    # -- the core ----------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body: segment at DDL positions, merge each data
        segment before applying the DDL that follows it."""
        self.batches_seen += 1
        # the foreachBatch batch_id is Structured Streaming's replay key:
        # a crash-replayed batch re-delivers under the SAME id, which lets
        # the LSM manifest tell a replayed ADD from a fresh re-ADD of a
        # reused column name
        self.state.begin_epoch(batch_id)
        # The batch is consumed once per (segment, table) below plus the
        # DDL control pass — cache it so an N-table pipeline reads the wire
        # source once, not N+1 times (SchemaOperator keeps the control
        # plane driver-side, but the scans must all hit the cached batch).
        batch = batch.cache()
        try:
            is_data = f"kind = '{KIND_DATA}'"
            data = batch.where(is_data)
            if self.parallel_metadata:
                self._reduce_batch_schemas(data)
            # the control job: the DDL records (few: sorted on the driver)
            # and, observed on the same scan, the data's tables and seq range
            seen = Observation()
            ddl_rows = sorted(
                batch.observe(
                    seen,
                    F.expr(f"collect_set(CASE WHEN {is_data} THEN table_id END) AS tables"),
                    F.expr(f"min(CASE WHEN {is_data} THEN seq END) AS lo"),
                    F.expr(f"max(CASE WHEN {is_data} THEN seq END) AS hi"),
                )
                .where(f"kind = '{KIND_DDL}'")
                .selectExpr("table_id", "seq", "ddl")
                .collect(),
                key=lambda r: r.seq,
            )
            # segment i holds the data between DDL i-1 and DDL i:
            # (-inf, ddl1.seq), (ddl1.seq, ddl2.seq), ..., (ddlN.seq, +inf)
            bounds = [r.seq for r in ddl_rows]
            got = seen.get
            segs = {bisect_right(bounds, got[k]) for k in ("lo", "hi")
                    if got[k] is not None}
            # no DDL inside the data's seq range: all of it is one segment
            presence = ({s: got["tables"] for s in segs} if len(segs) < 2
                        else self._presence(data, bounds))
            for i, ddl_row in enumerate(ddl_rows + [None]):
                if presence.get(i):
                    seg = ([f"seq > {bounds[i - 1]}"] if i > 0 else []) + (
                        [f"seq < {bounds[i]}"] if i < len(bounds) else [])
                    self._merge_segment(data.where(" AND ".join(seg)) if seg else data,
                                        tables=presence[i])
                if ddl_row is not None:
                    self._apply_ddl(self._decode_ddl(ddl_row))
        finally:
            batch.unpersist()

    @staticmethod
    def _presence(data: DataFrame, bounds) -> dict:
        """{segment: tables with data in it}, for data spread over several
        segments: ONE pass over the batch (not a distinct() job per
        segment). Control and data records never share a seq (control
        sits below the per-slice data band), so strict < comparisons
        assign segments exactly."""
        seg_no = " ".join(f"WHEN seq < {b} THEN {i}" for i, b in enumerate(bounds))
        presence: dict = {}
        for r in (
            data.groupBy(F.expr(f"CASE {seg_no} ELSE {len(bounds)} END AS seg_no"),
                         "table_id")
            .count().collect()
        ):
            presence.setdefault(r.seg_no, []).append(r.table_id)
        return presence

    def _decode_ddl(self, ddl_row):
        """Wire DDL records carry either the engine's JSON event encoding
        or a raw SQL statement (a binlog/Kafka-DDL-topic shape) — the SQL
        path goes through sources/ddl_parser.py, the
        CustomMySqlAntlrDdlParser analog."""
        raw = ddl_row.ddl
        tid = TableId.parse(ddl_row.table_id)
        if raw.lstrip().startswith("{"):
            return ddl_from_dict(tid, json.loads(raw))
        import dataclasses

        from ..sources.ddl_parser import parse_ddl

        event = parse_ddl(raw)
        if str(event.table_id) != ddl_row.table_id:
            # the record's table_id is authoritative (SQL may use a short name)
            event = dataclasses.replace(event, table_id=tid)
        return event

    def _reduce_batch_schemas(self, data: DataFrame) -> None:
        """Distributed schema reduction, live: every partition of the batch
        infers its payload schema executor-side (metadata-only pass — the
        payloads never reach the driver), the driver folds them to the
        least-common schema, and the delta vs the known schema is applied
        through the coordinator as ordinary DDL. The Spark rendition of the
        distributed SchemaOperator/SchemaCoordinator RPC reduction.

        `data` is the already-filtered (kind == DATA) cached plane from
        process_batch."""
        from ..core.events import CreateTableEvent
        from ..core.schema import Schema
        from ..core.schema_evolution import (
            get_least_common_schema,
            get_schema_difference,
        )
        from ..pipeline.distributed import (
            discover_json_payload_schemas,
            merged_schema_for_table,
        )

        tables = [r.table_id for r in data.select("table_id").distinct().collect()]
        for table in sorted(tables):
            tid = TableId.parse(table)
            ddls = discover_json_payload_schemas(
                data.where(F.col("table_id") == table), "after"
            )
            if not ddls:
                continue
            merged = merged_schema_for_table(table, ddls)
            pks = tuple(self.primary_keys.get(table, ()))
            current = self.front.source_schema(tid)
            if current is None:
                merged = Schema(
                    columns=merged.columns, primary_keys=pks
                ).ensure_pk_non_null()
                self._apply_ddl(CreateTableEvent(tid, merged))
                continue
            target = get_least_common_schema(current, merged)
            for ev in get_schema_difference(tid, current, target):
                self._apply_ddl(ev)

    def _apply_ddl(self, event) -> None:
        self.front.apply_sink_ddl(self.state, event)

    def _merge_segment(self, seg: DataFrame, tables) -> None:
        """Merge each table's rows of the segment: one ``where`` and one
        decoding ``selectExpr``, then the transform and the sink path."""
        for table in sorted(tables):
            tid = TableId.parse(table)
            schema = self.front.source_schema(tid)
            if schema is None:
                raise ValueError(f"Data before CreateTableEvent for {table}")
            payload = sql_string(sql_type(schema.to_spark_struct()))
            rows = seg.where(f"table_id = {sql_string(table)}")
            env = rows.selectExpr(
                f"table_id AS {quote(ENVELOPE_TABLE_ID)}",
                f"op AS {quote(ENVELOPE_OP)}",
                f"from_json(before, {payload}) AS before",
                f"from_json(after, {payload}) AS after",
                f"meta AS {quote(ENVELOPE_META)}",
                f"seq AS {quote(ENVELOPE_SEQ)}",
            )
            env = self.front.transform(tid, env, schema)
            # data decodes with the *current* source schema, so no rename
            # redirection is needed here — state migrated at DDL-apply time
            # carries renamed history forward
            self.front.merge_routed(self.state, tid, env)
