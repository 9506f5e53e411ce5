"""LSM merge-on-read state store — the lake-table sink executed for real.

The reference's primary lake sink is Paimon, whose table format IS an LSM
tree: writers append sorted delta files per commit, readers merge base +
deltas by primary key, compaction folds deltas into a new base
(paimon-flink sink / PaimonMetadataApplier.java apply DDL as metadata
operations). This module implements that storage contract on plain parquet
+ a JSON manifest, so no micro-batch rewrites the full table state:

  * ``merge`` — O(batch): append the incoming envelope's row images as
    they are (tombstones kept, several changes of one key included) as
    ONE delta commit — no shuffle in front of the write. Nothing existing
    is read or rewritten.
  * ``read`` — merge-on-read: base ∪ deltas, window by primary key ordered
    by (commit, seq), drop tombstones. The window also resolves the
    changes of one key within a commit, so only a lone compacted base
    reads without it. The shuffle is keyed by PK and scales horizontally;
    delta count is bounded by compaction.
  * ``compact`` — amortized: every ``compact_every`` commits the merged
    state becomes the new base and the delta list resets. O(state) but
    1/compact_every as often, the standard LSM trade.
  * **schema evolution is metadata-only**: ADD/ALTER land in the manifest's
    current schema (old deltas null-pad/cast at read time); RENAME records
    a per-delta column mapping applied at read time; TRUNCATE resets the
    manifest. No data file is ever rewritten for DDL — exactly how
    Delta/Iceberg/Paimon execute ALTER TABLE.

One sink path feeds it, shared by the wire runner (streaming/runner.py)
and the live JDBC/Postgres loops (pipeline/cdc_pipeline.py), both through
a ``PipelineFront`` (pipeline/composer.py): every upstream DDL goes
through the schema coordinator, and each event it emits for a sink table
reaches ``apply_schema_change`` — the store's MetadataApplier
(common/sink/MetadataApplier.java:33-39) and its only DDL entry point;
every data batch is transformed, routed, coerced to the coordinator's
sink schema and then ``merge``d (``PipelineFront.merge_routed``).

The manifest is one small JSON per table, rewritten atomically
(tmp + rename, ``write_json``) on each commit — control-plane metadata,
like a lake table's snapshot log. It records the schema each commit file
was written with, so a read opens the file with that schema instead of
running a Parquet schema-inference job per file.

The data path is a set of module functions that take files and commit
numbers instead of the manifest, so the Iceberg and Hudi analogs
(``iceberg_store.py``, ``hudi_sink.py``) write, merge and compact through
it too, each keeping only its own metadata: ``write_commit`` writes one
commit file, ``project`` reads one under a schema, ``merge_commits`` and
``live_rows`` merge them on read, and ``base_rows`` turns a merged state
into a compacted file.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..core.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    TruncateTableEvent,
)
from ..core.sql_text import quote, sql_type
from ..core.types import to_spark_type
from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    OP_DELETE,
    ROW_IMAGE_SQL,
    first_per_key,
)

TOMBSTONE = "__deleted"
COMMIT = "__commit"


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj, indent=None) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a temp file in the
    same directory, then ``os.replace``. A crash mid-dump leaves the old
    file (or none), never a torn one, and no temp file behind."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=indent)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def write_commit(rows: DataFrame, path: str, keys=(), order=(),
                 partition_by=(), metrics=()) -> dict:
    """Write one commit file: payload images + ``__deleted`` + ``__seq``
    (plus any columns a format keeps). With ``keys``, one row per key —
    the first under ``order`` (both SQL text, as ``first_per_key``
    takes them). ``partition_by`` lays the file out hive-partitioned.
    ``metrics`` (aggregate columns) are observed on the rows as they are
    written and returned by alias, so post-write counts cost no second
    read."""
    if keys:
        rows = first_per_key(rows, keys, *order)
    obs = Observation() if metrics else None
    if obs is not None:
        rows = rows.observe(obs, *metrics)
    writer = rows.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get if obs is not None else {}


def read_commit_file(spark: SparkSession, path: str,
                     written: Optional[str]) -> DataFrame:
    """Open one commit file. ``written`` is the ``schema.json()`` the file
    was written with (its manifest records it): the read then uses it,
    which runs no schema-inference job and keeps each hive partition
    column's type (a STRING value ``"007"`` stays ``"007"``). Without it
    (a manifest written before schemas were recorded) Spark infers the
    schema from the file."""
    reader = spark.read
    if written is not None:
        reader = reader.schema(T.StructType.fromJson(json.loads(written)))
    return reader.parquet(path)


def project(df: DataFrame, struct: T.StructType, source=None) -> DataFrame:
    """A commit file's rows under ``struct``: each field read from the
    column ``source.get(name, name)`` (a ``None`` source is absent), cast
    to the field's type, or null where the file lacks it; then
    ``__deleted`` and ``__seq``."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in struct.fields:
        src = (source or {}).get(f.name, f.name)
        if have.get(src) == f.dataType:
            # no-op cast elided
            cols.append(quote(src) if src == f.name
                        else f"{quote(src)} AS {quote(f.name)}")
        elif src in have:
            cols.append(f"CAST({quote(src)} AS {sql_type(f.dataType)}) AS {quote(f.name)}")
        else:
            cols.append(f"CAST(NULL AS {sql_type(f.dataType)}) AS {quote(f.name)}")
    return df.selectExpr(*cols, quote(TOMBSTONE), quote(ENVELOPE_SEQ))


def merge_commits(parts, keys, *order) -> DataFrame:
    """Merge-on-read over commit files: ``parts`` is ``[(frame, commit
    number)]``; each frame is tagged with its number as ``__commit``, the
    frames are unioned, and one window keeps the first row per key under
    ``order`` (``keys`` and ``order`` are SQL text, as ``first_per_key``
    takes them). A single part skips the window: it must be one row per
    key (a ``write_commit`` with ``keys``, or a compacted base). Tombstones
    stay in the result: a read drops them (``live_rows``); a compaction
    that must keep a deleted key's winner (Hudi precombine) writes them."""
    merged = None
    for df, commit in parts:
        df = df.withColumn(COMMIT, F.lit(commit))
        merged = df if merged is None else merged.unionByName(df)
    if keys and len(parts) > 1:
        merged = first_per_key(merged, keys, *order)
    return merged


def newest_first():
    """The merge order of a keyed LSM read, as SQL sort items: the newest
    commit, then the newest change within it (``__seq`` desc, nulls
    last)."""
    return f"{quote(COMMIT)} DESC", f"{quote(ENVELOPE_SEQ)} DESC NULLS LAST"


def live_rows(merged: DataFrame, names) -> DataFrame:
    """The rows a merge-on-read returns: tombstones dropped, ``names``
    kept."""
    return merged.where(f"NOT {quote(TOMBSTONE)}").selectExpr(*map(quote, names))


def base_rows(state: DataFrame) -> DataFrame:
    """A merged live state as commit-file rows for a compacted base: no
    tombstones, and a sequence below every change."""
    return state.selectExpr(
        "*", f"false AS {quote(TOMBSTONE)}", f"CAST(-1 AS BIGINT) AS {quote(ENVELOPE_SEQ)}"
    )


class LsmStateStore:
    """Paimon-style merge-on-read keyed state, one LSM per sink table."""

    def __init__(self, spark: SparkSession, root: str, compact_every: int = 8):
        self.spark = spark
        self.root = root
        self.compact_every = compact_every
        # current processing epoch (foreachBatch batch_id) — Structured
        # Streaming's replay-idempotence key: a crash-replayed batch
        # re-delivers under the SAME id, a genuinely new event arrives
        # under a LATER one. None for direct (non-runner) callers.
        self._epoch = None
        # tables merged through THIS instance — seal_all()'s scope
        self._merged_tables: set = set()

    def begin_epoch(self, epoch) -> None:
        self._epoch = epoch

    # -- manifest ----------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table.replace("/", "_"))

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._dir(table), "manifest.json")

    def _load(self, table: str) -> Optional[dict]:
        p = self._manifest_path(table)
        return read_json(p) if os.path.exists(p) else None

    def _store(self, table: str, manifest: dict) -> None:
        os.makedirs(self._dir(table), exist_ok=True)
        write_json(self._manifest_path(table), manifest)

    # -- write path --------------------------------------------------------
    #
    # GENERATION-AWARE rename translation (r14; replaces the r13 flattened
    # chase map, whose last-wins chase corrupted name REUSE across rename
    # generations — RENAME a->b then RENAME c->a sent live a's data to b,
    # a legal re-ADD of a renamed-away name was silently dropped, and a
    # single-event swap produced duplicate out names). The manifest now
    # stores:
    #
    #   rename_log : ordered list of rename EVENTS; each event is a list of
    #                [old, new] pairs applied SIMULTANEOUSLY (so a one-event
    #                swap is well-defined), events applied in order.
    #   history    : name-set snapshots [{"names": [...], "log": i}, ...] —
    #                one per schema-shape change, `log` = len(rename_log)
    #                at snapshot time. A crash-replayed writer merges with
    #                the FULL column set of its own epoch, so matching that
    #                set against history (newest first) recovers the
    #                writer's generation; its names then translate through
    #                only the rename events AFTER that generation.
    #   added_at   : {name: log index at ADD time} — provenance that
    #                disambiguates a REPLAYED ADD whose column was since
    #                renamed (skip: translating forward from its own add
    #                point lands on a live column) from a FRESH re-ADD of
    #                a name an older generation renamed away (add
    #                literally: the name has no add provenance).
    #
    # Residual ambiguity, inherent to name-keyed replay: if an old epoch's
    # FULL name set coincides with the current one (every renamed-away name
    # reintroduced), newest-generation wins — the right bias for streaming
    # crash replay, which only ever re-delivers the most recent batch.

    @staticmethod
    def _apply_events(name: str, events) -> str:
        for ev in events:
            for old, new in ev:
                if name == old:
                    name = new
                    break
        return name

    @classmethod
    def _translate(cls, m: dict, name: str) -> str:
        """Translate ONE possibly-old column name to its current name:
        current names are identity; otherwise the newest generation whose
        name set contains it anchors the rename events still ahead of it."""
        cur = {f["name"] for f in json.loads(m["schema"])["fields"]}
        if name in cur:
            return name
        log = m.get("rename_log", [])
        for entry in reversed(m.get("history", [])):
            if name in entry["names"]:
                return cls._apply_events(name, log[entry["log"]:])
        return name

    @classmethod
    def _translate_set(cls, m: dict, names) -> dict:
        """Translate a writer's FULL column-name list at once: the set
        identifies the writer's generation far more precisely than any
        single name can (name reuse is only ambiguous when the entire
        epoch schema coincides). Returns {incoming name: current name}."""
        cur = {f["name"] for f in json.loads(m["schema"])["fields"]}
        if all(n in cur for n in names):
            return {n: n for n in names}
        log = m.get("rename_log", [])
        want = set(names)
        for entry in reversed(m.get("history", [])):
            if want <= set(entry["names"]):
                tail = log[entry["log"]:]
                return {n: cls._apply_events(n, tail) for n in names}
        return {n: cls._translate(m, n) for n in names}

    @staticmethod
    def _record_history(m: dict) -> None:
        """Snapshot the manifest's current name set against the rename-log
        position; called after every schema-shape change so later replayed
        writers can be generation-matched."""
        names = [f["name"] for f in json.loads(m["schema"])["fields"]]
        log = len(m.get("rename_log", []))
        hist = m.setdefault("history", [])
        if not hist or hist[-1]["names"] != names or hist[-1]["log"] != log:
            hist.append({"names": names, "log": log})

    def _monotone_schema(self, m: dict, target_struct, mapping) -> T.StructType:
        """Reconcile an incoming merge's target schema with the manifest
        so the schema only ever moves FORWARD. A crash-replayed batch
        merges with the schema of its own epoch: names predate later
        renames (translated via ``mapping``), columns predate later ADDs
        (keep the manifest's extras), types predate later widenings
        (prefer the manifest's type for existing names). Explicitly
        dropped columns are the one legitimate removal and are tracked in
        m['dropped'] so a replayed pre-drop merge cannot resurrect them.
        Without this, a compaction running between a replayed merge and
        its replayed rename baked NULLs into the base (wave-12 widening
        trials). Names the union APPENDS (data ahead of its DDL) gain
        add-provenance so the trailing ADD replays as a no-op."""
        cur = T.StructType.fromJson(json.loads(m["schema"]))
        cur_types = {f.name: f.dataType for f in cur.fields}
        dropped = set(m.get("dropped", []))
        fields, have = [], set()
        for f in target_struct.fields:
            name = mapping.get(f.name, f.name)
            if name in dropped or name in have:
                continue
            if name not in cur_types:
                m.setdefault("added_at", {}).setdefault(
                    name, [len(m.get("rename_log", [])), self._epoch]
                )
            fields.append(
                T.StructField(name, cur_types.get(name, f.dataType), True)
            )
            have.add(name)
        fields += [f for f in cur.fields if f.name not in have]
        return T.StructType(fields)

    def merge(self, table: str, env: DataFrame, target_struct, primary_keys,
              partition_keys=()) -> None:
        """Append one delta commit from an envelope batch (already coerced
        to target_struct). O(batch) — never touches existing state.

        The batch's row images are written as they are: several changes
        of one key stay separate rows, and the read window (commit desc,
        then ``__seq`` desc) resolves them, so the write runs no shuffle.

        ``partition_keys`` (the Paimon `partition.key` sink option /
        Schema.partitionKeys — PaimonMetadataApplier.java:157-165): delta
        and base files lay out hive-partitioned on these columns, so a
        filtered read prunes whole partitions at the file listing and a
        commit touching few partitions writes few directories."""
        m = self._load(table) or {
            "schema": target_struct.json(),
            "base": None,
            "deltas": [],
            "next": 0,
            "pks": list(primary_keys),
            "partition_keys": list(partition_keys),
            "rename_log": [],
            "history": [],
        }
        payload_cols = [f.name for f in target_struct.fields]
        mapping = self._translate_set(m, payload_cols)
        m["schema"] = self._monotone_schema(m, target_struct, mapping).json()
        self._record_history(m)
        # pks stored TRANSLATED: a crash-replayed pre-rename merge carries
        # stale pk names, and regressing the manifest pks to them breaks
        # the next read()'s window partitioning (ADVICE r13)
        primary_keys = [mapping.get(k, k) for k in primary_keys]
        m["pks"] = list(primary_keys)
        if partition_keys:
            m["partition_keys"] = [mapping.get(k, k) for k in partition_keys]

        # write the delta under CURRENT column names: a crash-replayed
        # merge addresses columns by its own epoch's (pre-rename) names,
        # and a stale-named file is unreadable until the replayed rename
        # re-appends its hops — a compaction inside that window would
        # bake NULLs into the base (wave-12 widening trials). Forward
        # path: the translation is the identity.
        out_names = [mapping.get(c, c) for c in payload_cols]
        rows = env.selectExpr(
            *[f"{ROW_IMAGE_SQL}.{quote(c)} AS {quote(n)}"
              for c, n in zip(payload_cols, out_names)],
            f"{quote(ENVELOPE_OP)} = '{OP_DELETE}' AS {quote(TOMBSTONE)}",
            quote(ENVELOPE_SEQ),
        )
        cid = m["next"]
        write_commit(
            rows,
            os.path.join(self._dir(table), f"delta-{cid:08d}"),
            partition_by=[k for k in m.get("partition_keys", []) if k in out_names],
        )
        delta = {"id": cid, "renames": [], "schema": rows.schema.json()}
        if self._epoch is not None:
            # epoch provenance: lets a crash-replayed epoch OVERWRITE its
            # own delta (drop_epoch_deltas) instead of appending a second
            # one, and keeps the in-flight epoch out of compaction (its
            # checkpoint hasn't committed — baking it into the base would
            # make the replay-overwrite impossible)
            delta["epoch"] = self._epoch
            # ... and the exclusion must survive a PROCESS boundary
            # (VERDICT r15 item 5): a maintenance compact() between this
            # commit and the epoch's replay, run from a fresh process,
            # reads the marker from the manifest. seal() clears it once
            # the streaming checkpoint has committed.
            m["in_flight_epoch"] = self._epoch
        m["deltas"].append(delta)
        m["next"] = cid + 1
        self._store(table, m)
        self._merged_tables.add(table)
        if len(m["deltas"]) >= self.compact_every:
            self.compact(table)

    # -- read path ---------------------------------------------------------
    def _read_commit(self, path: str, renames, schema_struct,
                     written) -> DataFrame:
        df = read_commit_file(self.spark, path, written)
        # renames: ordered rename EVENTS (each a list of [old, new] pairs
        # applied simultaneously — one select per event, so a single-event
        # swap reads correctly); legacy flat [old, new] pairs are treated
        # as single-pair events. Normalized PER ENTRY, not from entry[0]:
        # a pre-r14 manifest holds flat pairs in the same list that r14
        # rename_columns then appends events to, so the list can be MIXED
        # (ADVICE r14 — deciding the format from renames[0] wrapped the
        # new-style event too and dict() raised at read time)
        renames = [
            [entry] if entry and isinstance(entry[0], str) else entry
            for entry in renames
        ]
        for event in renames:
            ev_map = dict(event)
            if any(old in df.columns for old in ev_map):
                df = df.selectExpr(
                    *[f"{quote(c)} AS {quote(ev_map.get(c, c))}" for c in df.columns]
                )
        return project(df, schema_struct)

    def read(self, table: str,
             predicate: Optional[str] = None) -> Optional[DataFrame]:
        """Merge-on-read: base ∪ deltas -> last image per key -> live rows.

        ``predicate`` (a SQL boolean over payload columns) applies to each
        commit scan BEFORE the merge window — the lake-reader pruning
        path: a partition-column predicate prunes whole hive partitions
        at file listing (PartitionFilters), which the post-merge filter
        cannot (no pushdown through a PK-partitioned window). Sound for
        any column whose value is immutable per key (partition columns
        are, by the same rule Paimon imposes on partition keys)."""
        m = self._load(table)
        if m is None:
            return None
        return self._merged(table, m, m["deltas"], predicate)

    def _merged(self, table: str, m: dict, deltas, predicate=None) -> DataFrame:
        """Merge-on-read over the base and an explicit delta subset —
        read() passes every manifest delta; compact() passes only the
        committed-epoch ones."""
        schema_struct = T.StructType.fromJson(json.loads(m["schema"]))
        # (file, rename events, written schema, commit number)
        files = [] if m["base"] is None else [(
            f"base-{m['base']:08d}", m.get("base_renames", []),
            m.get("base_schema"), -1,
        )]
        files += [(f"delta-{d['id']:08d}", d["renames"], d.get("schema"), d["id"])
                  for d in deltas]
        parts = []
        for name, renames, written, commit in files:
            df = self._read_commit(os.path.join(self._dir(table), name),
                                   renames, schema_struct, written)
            parts.append((df.where(predicate) if predicate else df, commit))
        if not parts:
            # truncated (or never written): an empty table with the schema
            return self.spark.createDataFrame([], schema_struct)
        keys = [quote(k) for k in m.get("pks") or []]
        merged = merge_commits(parts, keys, *newest_first())
        if keys and len(parts) == 1 and deltas:
            # a delta is the batch as written: even a lone one resolves
            # its changes of one key in the window. Only a lone compacted
            # base is one row per key and reads windowless.
            merged = first_per_key(merged, keys, *newest_first())
        return live_rows(merged, [f.name for f in schema_struct.fields])

    # -- maintenance -------------------------------------------------------
    def compact(self, table: str) -> None:
        """Fold base + deltas into a new base commit (amortized O(state)).

        Deltas of the IN-FLIGHT epoch (the one begin_epoch announced) are
        excluded and stay referenced as deltas: their foreachBatch
        checkpoint hasn't committed yet, so a crash can still replay the
        epoch, and the replay-overwrite (drop_epoch_deltas) must be able
        to unreference them — impossible once baked into the base.

        The exclusion survives a process boundary: when this store has no
        announced epoch (maintenance compaction from a fresh process), the
        manifest's persisted ``in_flight_epoch`` marker — recorded by the
        last streaming merge, cleared by ``seal()`` once the checkpoint
        committed — identifies the epoch that may still replay (VERDICT
        r15 item 5: previously the exclusion was process-local, so a
        between-crash-and-replay compact baked the crashed attempt's
        delta into the base and double-applied it after replay)."""
        m = self._load(table)
        if m is None or not m["deltas"]:
            return
        flight = self._epoch if self._epoch is not None else m.get(
            "in_flight_epoch"
        )
        safe = [
            d for d in m["deltas"]
            if flight is None or d.get("epoch") != flight
        ]
        in_flight = [d for d in m["deltas"] if d not in safe]
        if not safe:
            return
        base = base_rows(self._merged(table, m, safe))
        cid = m["next"]
        write_commit(
            base,
            os.path.join(self._dir(table), f"base-{cid:08d}"),
            partition_by=[k for k in m.get("partition_keys", []) if k in base.columns],
        )
        m["base"] = cid
        m["base_renames"] = []
        m["base_schema"] = base.schema.json()
        m["deltas"] = in_flight
        m["next"] = cid + 1
        self._store(table, m)

    def drop_epoch_deltas(self, table: str, from_epoch) -> None:
        """Unreference every delta whose epoch is >= ``from_epoch`` — the
        replay-overwrite: a crash-replayed foreachBatch epoch calls this
        FIRST, so its fold reads the state exactly as of its committed
        predecessor and its re-merge takes the crashed attempt's place.
        Epoch-less deltas (non-streaming writers) are never dropped.
        Sound because foreachBatch is serial: if epoch N re-delivers,
        no epoch > N ever committed its checkpoint."""
        m = self._load(table)
        if m is None:
            return
        keep, dropped = [], []
        for d in m["deltas"]:
            e = d.get("epoch")
            if e is not None and e >= from_epoch:
                dropped.append(d)
            else:
                keep.append(d)
        if not dropped:
            return
        m["deltas"] = keep
        self._store(table, m)
        for d in dropped:  # best-effort: unreferenced either way
            shutil.rmtree(
                os.path.join(self._dir(table), f"delta-{d['id']:08d}"),
                ignore_errors=True,
            )

    def seal(self, table: str) -> None:
        """Clear the persisted in-flight-epoch marker — called once the
        streaming checkpoint has committed (after awaitTermination), when
        the last epoch can no longer replay. Until sealed, compact()
        conservatively keeps that epoch's deltas out of the base even
        from a fresh process. Also resets the in-memory epoch so a
        direct post-run compact() on the same store folds everything."""
        self._epoch = None
        m = self._load(table)
        if m is None or m.get("in_flight_epoch") is None:
            return
        m["in_flight_epoch"] = None
        self._store(table, m)

    def seal_all(self) -> None:
        """seal() every table merged through this instance — the runner's
        post-awaitTermination hook (it merges one table per routed sink
        table, and only the instance knows which)."""
        for t in sorted(self._merged_tables):
            self.seal(t)
        self._epoch = None

    # -- DDL (metadata-only; the MetadataApplier contract) -----------------
    def current_schema(self, table: str) -> Optional[T.StructType]:
        """The manifest's current schema; None for an absent table."""
        m = self._load(table)
        return None if m is None else T.StructType.fromJson(json.loads(m["schema"]))

    def apply_schema_change(self, table: str, event) -> None:
        """Sink-side DDL execution — the MetadataApplier
        (common/sink/MetadataApplier.java:33-39; PaimonMetadataApplier
        applies DDL as catalog metadata operations): every DDL is a
        metadata-only manifest edit."""
        if isinstance(event, DropTableEvent):
            # sink-side table removal (MetadataApplier drop semantics);
            # found by probing: a DROP through the runner used to leave
            # the state fully readable
            self.drop(table)
            return
        # NOTE: every edit below is EVENT-DRIVEN and monotone — derived
        # from the event against the sink's CURRENT state, never a
        # snapshot of the coordinator's evolved schema. A crash-replayed
        # batch re-applies its DDL against a sink that is already AHEAD
        # (the first attempt's edits landed); pushing the coordinator's
        # mid-replay view would move the schema BACKWARDS, and a
        # compaction run while regressed bakes NULLs into the base
        # (found by the wave-12 widening trials). CreateTableEvent
        # deliberately touches nothing: a recovery-prefix CREATE carries
        # a historical schema.
        if isinstance(event, RenameColumnEvent):
            self.rename_columns(table, list(event.name_mapping))
        elif isinstance(event, TruncateTableEvent):
            self.truncate(table)
        elif isinstance(event, AddColumnEvent):
            # a trailing ADD with no subsequent data must still be
            # readable (wave-12 finding) — insert into the manifest,
            # honoring FIRST/BEFORE/AFTER anchors (SchemaUtils
            # applyAddColumnEvent ordering; ADVICE r13)
            self.add_columns(
                table,
                [
                    (
                        cwp.column.name,
                        to_spark_type(cwp.column.type),
                        cwp.position.value,
                        cwp.existed_column_name,
                    )
                    for cwp in event.added_columns
                ],
            )
        elif isinstance(event, AlterColumnTypeEvent):
            self.alter_column_types(
                table,
                [(name, to_spark_type(dt)) for name, dt in event.type_mapping],
            )
        elif isinstance(event, DropColumnEvent):
            self.drop_columns(table, list(event.dropped_column_names))

    def rename_columns(self, table: str, mapping) -> None:
        """RENAME COLUMN without touching a single data file: record ONE
        rename event (pairs applied simultaneously, so a single-event
        swap is well-defined) against every existing commit; readers
        apply events in order. Pairs whose old name is not in the
        current schema are dropped — that is a crash-replayed rename
        whose first application already landed; re-logging it would
        corrupt the generation anchors. Pairs whose NEW name already
        exists are also dropped unless that name is itself an old name
        within the same event (a swap): a replayed ``RENAME a->b`` that
        runs after a fresh re-ADD of ``a`` would otherwise see the
        re-added ``a``, re-apply, and leave the schema with duplicate
        ``b`` fields and no ``a`` (ADVICE r14 — the replayed rename must
        no-op; the replayed ADD then converges via the in-have skip)."""
        m = self._load(table)
        if m is None:
            return
        schema_struct = T.StructType.fromJson(json.loads(m["schema"]))
        have = {f.name for f in schema_struct.fields}
        kept = [[old, new] for old, new in mapping if old in have]
        olds = {old for old, _ in kept}
        event = [
            [old, new]
            for old, new in kept
            if not (new in have and new not in olds)
        ]
        if not event:
            return
        ev_map = dict(event)
        fields = [
            T.StructField(ev_map.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema_struct.fields
        ]
        m["schema"] = T.StructType(fields).json()
        m["pks"] = [ev_map.get(k, k) for k in m.get("pks", [])]
        m["partition_keys"] = [
            ev_map.get(k, k) for k in m.get("partition_keys", [])
        ]
        for d in m["deltas"]:
            d["renames"].append(event)
        if m["base"] is not None:
            m.setdefault("base_renames", []).append(event)
        m.setdefault("rename_log", []).append(event)
        self._record_history(m)
        self._store(table, m)

    def add_columns(self, table: str, fields) -> None:
        """ADD COLUMN as a MONOTONE manifest-schema edit: insert the
        missing fields into whatever schema the manifest currently holds.
        fields: [(name, spark DataType)] or
        [(name, spark DataType, position, anchor)] where position is a
        ColumnPosition name ('FIRST'/'LAST'/'BEFORE'/'AFTER') and anchor
        the existing column for BEFORE/AFTER — the SchemaUtils
        applyAddColumnEvent ordering (SchemaUtils.java:126-164). A
        BEFORE/AFTER anchor that is None or names no schema column
        RAISES, matching the reference's Preconditions.checkNotNull on
        existedColumnName (ADVICE r14 — silent degrade-to-LAST was an
        ordering divergence); an anchor renamed since the event's epoch
        is translated forward first, so crash replay still lands. This
        can be replayed against an ALREADY-ahead manifest without regressing it (a
        crash-replayed DDL must never move the schema backwards — a
        compaction run while regressed would bake NULLs into the base;
        found by the wave-12 widening trials).

        Replay vs name-reuse disambiguation: an incoming name absent from
        the current schema is a REPLAYED add (skip) only if its recorded
        add-provenance is from the SAME epoch and translating it forward
        from its own add point lands on a live or dropped column; a name
        with no provenance, or arriving under a LATER epoch, is a fresh
        (re-)ADD and lands under its literal name."""
        m = self._load(table)
        if m is None:
            return
        struct = T.StructType.fromJson(json.loads(m["schema"]))
        out = list(struct.fields)
        have = {f.name for f in out}
        dropped = set(m.get("dropped", []))
        added_at = m.setdefault("added_at", {})
        log = m.get("rename_log", [])
        changed = False
        for spec in fields:
            n, t = spec[0], spec[1]
            pos = spec[2] if len(spec) > 2 else "LAST"
            anchor = spec[3] if len(spec) > 3 else None
            if n in have:
                continue
            prov = added_at.get(n)
            if prov is not None:
                prov_log, prov_epoch = prov[0], prov[1]
                same_epoch = (
                    self._epoch is None
                    or prov_epoch is None
                    or prov_epoch == self._epoch
                )
                fwd = self._apply_events(n, log[prov_log:])
                if same_epoch and fwd != n and (fwd in have or fwd in dropped):
                    continue  # replayed ADD whose column was since renamed
            field = T.StructField(n, t, True)
            if pos == "FIRST":
                out.insert(0, field)
            elif pos in ("BEFORE", "AFTER"):
                if anchor is None:
                    raise ValueError(
                        f"ADD COLUMN {n} {pos}: anchor column is required "
                        "(SchemaUtils.applyAddColumnEvent checkNotNull)"
                    )
                cur_names = [f.name for f in out]
                a = (
                    anchor
                    if anchor in cur_names
                    else self._translate(m, anchor)
                )
                if a not in cur_names:
                    if anchor in dropped or a in dropped:
                        # replayed ADD whose anchor was DROPPED after the
                        # event's epoch: the position is no longer
                        # observable — land the column, ordered LAST
                        out.append(field)
                        have.add(n)
                        dropped.discard(n)
                        added_at[n] = [len(log), self._epoch]
                        changed = True
                        continue
                    raise ValueError(
                        f"ADD COLUMN {n} {pos} {anchor}: anchor not in "
                        f"schema {cur_names}"
                    )
                idx = cur_names.index(a)
                out.insert(idx if pos == "BEFORE" else idx + 1, field)
            else:
                out.append(field)
            have.add(n)
            dropped.discard(n)  # an explicit re-ADD revives a dropped name
            added_at[n] = [len(log), self._epoch]
            changed = True
        if not changed:
            return
        m["schema"] = T.StructType(out).json()
        m["dropped"] = sorted(dropped)
        self._record_history(m)
        self._store(table, m)

    def alter_column_types(self, table: str, mapping) -> None:
        """ALTER COLUMN TYPE as a monotone manifest edit: retype the
        named columns in place; absent names (already renamed ahead of a
        replayed event) are ignored. mapping: [(name, spark DataType)]."""
        m = self._load(table)
        if m is None:
            return
        want = {self._translate(m, n): t for n, t in mapping}
        struct = T.StructType.fromJson(json.loads(m["schema"]))
        fields = [
            T.StructField(f.name, want.get(f.name, f.dataType), f.nullable)
            for f in struct.fields
        ]
        m["schema"] = T.StructType(fields).json()
        self._store(table, m)

    def truncate(self, table: str) -> None:
        """TRUNCATE TABLE: metadata reset — data files become unreferenced."""
        m = self._load(table)
        if m is None:
            return
        m["base"] = None
        m["base_renames"] = []
        m["deltas"] = []
        self._store(table, m)

    def drop_columns(self, table: str, names) -> None:
        """DROP COLUMN: remove the fields from the manifest schema and
        record them in m['dropped'] so a crash-replayed pre-drop merge
        cannot resurrect them via the monotone schema union."""
        m = self._load(table)
        if m is None:
            return
        gone = {self._translate(m, n) for n in names}
        struct = T.StructType.fromJson(json.loads(m["schema"]))
        m["schema"] = T.StructType(
            [f for f in struct.fields if f.name not in gone]
        ).json()
        m["dropped"] = sorted(set(m.get("dropped", [])) | gone)
        self._store(table, m)

    def drop(self, table: str) -> None:
        """DROP TABLE: remove the manifest — read() returns None, and a
        later CREATE + merge re-materializes from scratch (the
        MetadataApplier drop semantics; data files become unreferenced
        like truncate's)."""
        shutil.rmtree(self._dir(table), ignore_errors=True)


# -- Paimon factory option surface (PaimonDataSinkFactory.java:47) ----------

PREFIX_TABLE_PROPERTIES = "table.properties."
PREFIX_CATALOG_PROPERTIES = "catalog.properties."
_PAIMON_TOP_LEVEL = ("commit.user-prefix", "commit.user", "partition.key")


def parse_partition_keys(raw: str) -> dict:
    """'testdb.table1:id1,id2;testdb.table2:name' ->
    {'testdb.table1': ['id1','id2'], ...}
    (PaimonDataSinkOptions.PARTITION_KEY / PaimonDataSinkFactory parsing,
    including its malformed-entry error)."""
    out: dict = {}
    if not raw:
        return out
    for tables in raw.split(";"):
        tables = tables.strip()
        if not tables:
            continue
        splits = tables.split(":")
        if len(splits) != 2:
            raise ValueError(
                "partition.key is malformed, please refer to the documents"
            )
        out[splits[0].strip()] = [p.strip() for p in splits[1].split(",")]
    return out


def validate_paimon_options(config: dict) -> dict:
    """PaimonDataSinkFactory surface: catalog.properties.metastore
    required; unknown keys rejected EXCEPT under the catalog.properties. /
    table.properties. pass-through prefixes (validateExcept)."""
    unknown = sorted(
        k
        for k in config
        if k not in _PAIMON_TOP_LEVEL
        and k != "name"
        and not k.startswith(PREFIX_CATALOG_PROPERTIES)
        and not k.startswith(PREFIX_TABLE_PROPERTIES)
    )
    if unknown:
        raise ValueError(
            f"unsupported option(s) for 'paimon' sink: {', '.join(unknown)}"
        )
    metastore = config.get("catalog.properties.metastore")
    if metastore in (None, ""):
        raise ValueError(
            "'paimon' sink missing required option(s): catalog.properties.metastore"
        )
    if metastore not in ("filesystem", "hive"):
        raise ValueError(
            f"unsupported paimon metastore {metastore!r}; one of filesystem, hive"
        )
    warehouse = config.get("catalog.properties.warehouse")
    if metastore == "filesystem" and not warehouse:
        raise ValueError(
            "'paimon' sink with metastore=filesystem requires "
            "catalog.properties.warehouse"
        )
    return {
        "metastore": metastore,
        "warehouse": warehouse,
        "commit_user": str(
            config.get("commit.user-prefix", config.get("commit.user", "admin"))
        ),
        "partition_keys": parse_partition_keys(str(config.get("partition.key", ""))),
        "catalog_properties": {
            k[len(PREFIX_CATALOG_PROPERTIES):]: v
            for k, v in config.items()
            if k.startswith(PREFIX_CATALOG_PROPERTIES)
        },
        "table_properties": {
            k[len(PREFIX_TABLE_PROPERTIES):]: v
            for k, v in config.items()
            if k.startswith(PREFIX_TABLE_PROPERTIES)
        },
    }
