"""Differential waves 12/12b — crash-restart of the wire-format
StreamingPipelineRunner + LSM state path (the machinery every
streaming-evolution row and the live bridge ride): random slices of
CREATE-prefixed wire events (I/U/D data interleaved with in-band ADD
COLUMN / RENAME / TRUNCATE DDL — including r14's name-REUSE chains
A->B ... C->A, fresh re-ADDs of renamed-away names, and RENAMEs of
columns added in the same slice, the replayed-ADD provenance seam),
drained slice by slice; a crash is
injected at a RANDOM slice either BEFORE the batch processes, MID-BATCH
(after the first segment's LSM merge, before the rest), or AFTER the
whole batch but before the checkpoint commit; a FRESH runner (empty
coordinator — schema must recover from the slice-prefix CREATE, the
live bridge's convention) resumes over the same checkpoint/state and
the remaining slices. Final LSM state must equal (a) an uninterrupted
run over the same slices and (b) a sequential dict model.

What this pins empirically: LSM delta commits are value-idempotent
under batch replay (duplicate commits carry identical (pk, seq) images,
so merge-on-read converges), replayed DDL hits the coordinator's
redundancy guard (SchemaUtils.java:323-410 port), a replayed RENAME's
stale mapping is a reader no-op, and a replayed TRUNCATE re-wipes and
the batch's own segments re-merge — converging either way."""

import os
import random

import pytest

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    CreateTableEvent,
    DataChangeEvent,
    RenameColumnEvent,
    TruncateTableEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml
from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.streaming.runner import StreamingPipelineRunner
from flink_cdc_spark.streaming.wire import write_wire_file

SEED = 0x12C4
TID = TableId.parse("t.x")
YAML = """
source: {type: wire}
sink: {type: lake}
pipeline: {schema.change.behavior: EVOLVE}
"""


class _Crash(Exception):
    pass


class CrashingRunner(StreamingPipelineRunner):
    """phase 'pre': batch never processes; 'mid': first segment's merge
    lands, rest of the batch doesn't; 'post': whole batch processed,
    checkpoint commit never happens."""

    def arm(self, phase):
        self._phase = phase
        self._merges = 0

    def process_batch(self, batch, batch_id):
        if self._phase == "pre":
            raise _Crash("pre-batch crash")
        super().process_batch(batch, batch_id)
        if self._phase == "post":
            raise _Crash("post-batch pre-commit crash")

    def _merge_segment(self, seg, tables=None):
        super()._merge_segment(seg, tables=tables)
        if self._phase == "mid":
            self._merges += 1
            raise _Crash("mid-batch crash after first segment merge")


def _schema_of(cols):
    b = new_schema()
    for name, typ in cols:
        b = b.physical_column(name, typ)
    return b.primary_key("k").build()


def _gen_slices(rng, n_slices):
    """-> (slices, final_cols, model_rows). Each slice is a list of
    events prefixed with a CREATE carrying the schema current at slice
    start. The model applies ops sequentially."""
    cols = [("k", "BIGINT NOT NULL"), ("g", "STRING"), ("val", "INT")]
    rows = {}
    next_key = [0]
    next_col = [0]
    rename_gen = [0]
    truncated = [False]
    widened = [False]
    retired_g: set = set()  # g-names renamed away — reuse/re-ADD pool
    slices = []

    def names():
        return [c for c, _ in cols]

    def image(row):
        return tuple(row.get(c) for c in names())

    def rand_row(k):
        row = {"k": k}
        for c, t in cols[1:]:
            if t == "STRING":
                row[c] = f"s{rng.randrange(100)}"
            elif t == "BIGINT" and c == "val":
                # post-widen: values a 32-bit column cannot hold
                row[c] = rng.randrange(2**35, 2**40)
            else:
                row[c] = rng.randrange(1000)
        return row

    for _s in range(n_slices):
        ev = [CreateTableEvent(TID, _schema_of(cols))]
        slice_added: list = []  # z-cols added THIS slice (ADD+RENAME seam)
        for _ in range(rng.randrange(6, 16)):
            r = rng.random()
            if r < 0.08:
                c = f"z{next_col[0]}"; next_col[0] += 1
                ev.append(AddColumnEvent.last(TID, Column(c, ct.bigint())))
                cols.append((c, "BIGINT"))
                slice_added.append(c)
            elif r < 0.13:
                old = next(c for c, _t in cols if c.startswith("g"))
                if widened[0] and "val" in names() and rng.random() < 0.3:
                    # rename the WIDENED column: a crash replay now
                    # re-delivers the ALTER under the renamed name —
                    # the per-name generation-aware translate seam
                    old = "val"
                reuse = sorted(retired_g - set(names()))
                if reuse and rng.random() < 0.5:
                    # name-REUSE chain: rename the live g-column to a name
                    # an older generation renamed away (A->B ... C->A)
                    new = rng.choice(reuse)
                else:
                    new = f"g{rename_gen[0] + 1}"; rename_gen[0] += 1
                retired_g.add(old)
                ev.append(RenameColumnEvent(TID, name_mapping=((old, new),)))
                cols[:] = [(new if c == old else c, t) for c, t in cols]
                for row in rows.values():
                    if old in row:
                        row[new] = row.pop(old)
            elif r < 0.16 and (retired_g - set(names())):
                # fresh re-ADD of a renamed-away name (must land literally,
                # NULL for existing rows — the r13 chase map dropped it)
                c = rng.choice(sorted(retired_g - set(names())))
                ev.append(AddColumnEvent.last(TID, Column(c, ct.string())))
                cols.append((c, "STRING"))
                slice_added.append(c)
            elif r < 0.19 and slice_added:
                # RENAME of a column ADDED in this same slice: under a
                # crash replay the ADD re-delivers after the rename already
                # landed — the added_at/epoch provenance seam
                old = slice_added.pop(rng.randrange(len(slice_added)))
                new = f"w{rename_gen[0] + 1}"; rename_gen[0] += 1
                retired_g.add(old)
                ev.append(RenameColumnEvent(TID, name_mapping=((old, new),)))
                cols[:] = [(new if c == old else c, t) for c, t in cols]
                for row in rows.values():
                    if old in row:
                        row[new] = row.pop(old)
            elif r < 0.23 and not truncated[0]:
                ev.append(TruncateTableEvent(TID))
                rows.clear()
                truncated[0] = True
            elif r < 0.27 and not widened[0]:
                # INT -> BIGINT widening; later images carry >32-bit values
                ev.append(AlterColumnTypeEvent(
                    TID, type_mapping=(("val", ct.bigint()),)
                ))
                cols[:] = [
                    (c, "BIGINT" if c == "val" else t) for c, t in cols
                ]
                widened[0] = True
            elif r < 0.55 or not rows:
                k = next_key[0]; next_key[0] += 1
                row = rand_row(k)
                ev.append(DataChangeEvent.insert(TID, image(row)))
                rows[k] = row
            elif r < 0.85:
                k = rng.choice(sorted(rows))
                before = image(rows[k])
                row = rand_row(k)
                ev.append(DataChangeEvent.update(TID, before, image(row)))
                rows[k] = row
            else:
                k = rng.choice(sorted(rows))
                ev.append(DataChangeEvent.delete(TID, image(rows[k])))
                del rows[k]
        slices.append(ev)
    return slices, names(), rows


def _drain(spark, runner_cls, work, slices, crash_at=None, phase=None,
           compact_every=8):
    """Write + drain slice by slice; at crash_at use a crashing runner,
    then a FRESH plain runner resumes the failed batch. Returns the
    final LSM store. compact_every=1 forces a compaction after EVERY
    merge — the r13 LSM bug was only visible with a compaction inside
    the crash-replay window (VERDICT r14 item 6)."""
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    pipeline = parse_pipeline_yaml(YAML)

    def mk(cls):
        return cls(
            spark, pipeline,
            state_root=os.path.join(work, "state"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            shuffle_partitions=4,
            compact_every=compact_every,
        )

    for i, ev in enumerate(slices):
        write_wire_file(os.path.join(src, f"s{i:04d}.json"), ev,
                        seq_start=i * 100_000)
        if i == crash_at:
            crasher = mk(runner_cls)
            crasher.arm(phase)
            with pytest.raises(Exception):
                crasher.run_available(src)
            # fresh runner, empty coordinator: schema recovery comes from
            # the slice-prefix CREATE, state/offsets from ckpt + LSM
            mk(StreamingPipelineRunner).run_available(src)
        else:
            mk(StreamingPipelineRunner).run_available(src)
    return LsmStateStore(spark, os.path.join(work, "state"))


def _collect(store, final_cols):
    df = store.read(str(TID))
    assert df is not None
    return {
        r["k"]: tuple(r[c] for c in final_cols if c != "k")
        for r in df.select(*final_cols).collect()
    }


@pytest.mark.parametrize("trial,phase", [
    (0, "pre"), (1, "mid"), (2, "post"), (3, "mid"),
    (4, "post"), (5, "mid"),
])
def test_runner_crash_restart_matches_uninterrupted_and_model(
    spark, tmp_path, trial, phase
):
    rng = random.Random(SEED + trial)
    n_slices = rng.randrange(3, 5)
    slices, final_cols, model = _gen_slices(rng, n_slices)
    crash_at = rng.randrange(n_slices)
    # half the trials force a compaction after EVERY merge, so the
    # crash-replay window always contains a compaction (the r13 LSM bug
    # needed one; the default cadence of 8 rarely fired inside ~6-event
    # trials — VERDICT r14 item 6)
    compact_every = 1 if trial % 2 else 8

    base = _drain(spark, StreamingPipelineRunner, str(tmp_path / "base"),
                  slices, compact_every=compact_every)
    want = _collect(base, final_cols)

    crashed = _drain(
        spark, CrashingRunner, str(tmp_path / "crash"), slices,
        crash_at=crash_at, phase=phase, compact_every=compact_every,
    )
    got = _collect(crashed, final_cols)

    model_view = {
        k: tuple(row.get(c) for c in final_cols if c != "k")
        for k, row in model.items()
    }
    assert want == model_view, (
        f"trial {trial}: UNINTERRUPTED run diverged from the model "
        f"(crash not involved): {len(want)} vs {len(model_view)} rows"
    )
    assert got == want, (
        f"trial {trial}: crash at slice {crash_at}/{phase} diverged: "
        f"missing={set(want) - set(got)}, extra={set(got) - set(want)}"
    )


@pytest.mark.parametrize("backend", ["lsm"])
def test_trailing_add_column_is_readable(spark, tmp_path, backend):
    """The wave-12 finding: an ADD COLUMN
    as the stream's LAST event (no data after it) must still surface in
    reads — new column present, NULL for every existing row."""
    from flink_cdc_spark.core.events import AddColumnEvent as ACE

    ev = [
        CreateTableEvent(TID, _schema_of(
            [("k", "BIGINT NOT NULL"), ("g", "STRING")]
        )),
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.insert(TID, (2, "b")),
        ACE.last(TID, __import__(
            "flink_cdc_spark.core.schema", fromlist=["Column"]
        ).Column("z", ct.bigint())),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_wire_file(os.path.join(src, "s0.json"), ev)
    runner = StreamingPipelineRunner(
        spark, parse_pipeline_yaml(YAML),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    runner.run_available(src)
    df = runner.state.read(str(TID))
    assert df is not None and "z" in df.columns
    rows = {r.k: (r.g, r.z) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None)}


@pytest.mark.parametrize("backend", ["lsm"])
def test_drop_table_removes_sink_state(spark, tmp_path, backend):
    """DROP TABLE through the streaming runner must remove the sink
    table (MetadataApplier drop semantics) — it used to leave the state
    fully readable — and a later CREATE re-materializes from scratch."""
    from flink_cdc_spark.core.events import DropTableEvent

    sch = _schema_of([("k", "BIGINT NOT NULL"), ("g", "STRING")])
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_wire_file(os.path.join(src, "s0.json"), [
        CreateTableEvent(TID, sch),
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.insert(TID, (2, "b")),
        DropTableEvent(TID),
    ])
    runner = StreamingPipelineRunner(
        spark, parse_pipeline_yaml(YAML),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    runner.run_available(src)
    assert runner.state.read(str(TID)) is None

    # re-create with fresh rows in a later slice: state rebuilds clean
    write_wire_file(os.path.join(src, "s1.json"), [
        CreateTableEvent(TID, sch),
        DataChangeEvent.insert(TID, (7, "z")),
    ], seq_start=100_000)
    runner2 = StreamingPipelineRunner(
        spark, parse_pipeline_yaml(YAML),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        shuffle_partitions=4,
    )
    runner2.run_available(src)
    rows = {r.k: r.g for r in runner2.state.read(str(TID)).collect()}
    assert rows == {7: "z"}
