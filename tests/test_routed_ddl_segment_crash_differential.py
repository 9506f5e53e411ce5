"""Differential wave 15 — crash-injection on the streaming RUNNER's
mid-batch DDL segmentation under a routed N->1 merge (VERDICT r14 item
5): two source tables (a.x / a.y) route into ONE sink table, and each
micro-batch interleaves per-table data blocks with DDL landing BETWEEN
the blocks — so the runner's segment split (runner.py process_batch)
produces multiple data segments whose merges straddle DDL applications,
and the two sides of a DDL belong to DIFFERENT source tables (the exact
shape the r14 routed trailing-DDL-invisibility bug hid in).

Crash phases, each resumed by a FRESH runner (empty coordinator —
schema recovery from the slice-prefix CREATEs) over the same
checkpoint/state:

  * 'pre'  — the batch never processes;
  * 'seg1' — the FIRST segment's merge lands, the DDL after it and all
             later segments don't;
  * 'seg2' — two segment merges land (the DDL between them applied),
             the rest of the batch doesn't;
  * 'ddl1' — the first non-CREATE DDL lands in the sink metadata, the
             segment AFTER it never merges;
  * 'post' — the whole batch processes, the checkpoint commit doesn't.

Final sink state must equal (a) an uninterrupted run over the same
slices and (b) a sequential dict model.
"""

import os
import random

import pytest

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    CreateTableEvent,
    DataChangeEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml
from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.streaming.runner import StreamingPipelineRunner
from flink_cdc_spark.streaming.wire import write_wire_file

SEED = 0x15DD
TID_X = TableId.parse("a.x")
TID_Y = TableId.parse("a.y")
SINK = "sink.merged"
YAML = """
source: {type: wire}
sink: {type: lake}
route:
  - source-table: a.\\.*
    sink-table: sink.merged
pipeline: {schema.change.behavior: EVOLVE}
"""


class _Crash(Exception):
    pass


class CrashingRunner(StreamingPipelineRunner):
    def arm(self, phase):
        self._phase = phase
        self.crashed = None  # the message of the crash raised, once it is
        self._merges = 0
        self._ddls = 0

    def _crash(self, message):
        self.crashed = message
        raise _Crash(message)

    def process_batch(self, batch, batch_id):
        if self._phase == "pre":
            self._crash("pre-batch crash")
        super().process_batch(batch, batch_id)
        if self._phase == "post":
            self._crash("post-batch pre-commit crash")

    def _merge_segment(self, seg, tables=None):
        super()._merge_segment(seg, tables=tables)
        self._merges += 1
        if self._phase == "seg1" and self._merges == 1:
            self._crash("crash after first segment merge")
        if self._phase == "seg2" and self._merges == 2:
            self._crash("crash after second segment merge")

    def _apply_ddl(self, event):
        super()._apply_ddl(event)
        if self._phase == "ddl1" and not isinstance(event, CreateTableEvent):
            self._ddls += 1
            if self._ddls == 1:
                self._crash("crash after first mid-batch DDL apply")


def _schema_of(cols):
    b = new_schema()
    for name, typ in cols:
        b = b.physical_column(name, typ)
    return b.primary_key("k").build()


def _gen_slices(rng, n_slices):
    """-> (slices, sink_cols, model_rows). Two tables with disjoint key
    spaces (x: even, y: odd); each slice is CREATE(x)+CREATE(y) followed
    by >=2 single-table data blocks with DDL (ADD COLUMN to one table)
    guaranteed between the first two blocks and optionally between /
    after the rest — the segment-straddling shape."""
    cols = {TID_X: [("k", "BIGINT NOT NULL"), ("v", "STRING")],
            TID_Y: [("k", "BIGINT NOT NULL"), ("v", "STRING")]}
    sink_cols = ["k", "v"]
    rows = {}  # k -> {col: val}
    next_key = {TID_X: 0, TID_Y: 1}
    next_col = [0]
    slices = []

    def names(tid):
        return [c for c, _ in cols[tid]]

    def image(tid, row):
        return tuple(row.get(c) for c in names(tid))

    def rand_row(tid, k):
        row = {"k": k}
        for c, _t in cols[tid][1:]:
            row[c] = (f"s{rng.randrange(100)}" if c == "v"
                      else rng.randrange(1000))
        return row

    def data_block(tid, ev):
        mine = [k for k in rows if k % 2 == (0 if tid is TID_X else 1)]
        for _ in range(rng.randrange(2, 6)):
            r = rng.random()
            if r < 0.5 or not mine:
                k = next_key[tid]
                next_key[tid] += 2
                row = rand_row(tid, k)
                ev.append(DataChangeEvent.insert(tid, image(tid, row)))
                rows[k] = dict(row)
                mine.append(k)
            elif r < 0.85:
                k = rng.choice(mine)
                before = image(tid, rows[k])
                row = rand_row(tid, k)
                ev.append(DataChangeEvent.update(tid, before, image(tid, row)))
                rows[k] = dict(row)
            else:
                k = rng.choice(mine)
                ev.append(DataChangeEvent.delete(tid, image(tid, rows[k])))
                del rows[k]
                mine.remove(k)

    def add_col(ev):
        tid = rng.choice((TID_X, TID_Y))
        c = f"z{next_col[0]}"
        next_col[0] += 1
        ev.append(AddColumnEvent.last(tid, Column(c, ct.bigint())))
        cols[tid].append((c, "BIGINT"))
        sink_cols.append(c)

    for _s in range(n_slices):
        ev = [CreateTableEvent(TID_X, _schema_of(cols[TID_X])),
              CreateTableEvent(TID_Y, _schema_of(cols[TID_Y]))]
        # first two blocks on DIFFERENT tables with a DDL between them:
        # the guaranteed segment-straddling seam
        first, second = rng.sample((TID_X, TID_Y), 2)
        data_block(first, ev)
        add_col(ev)
        data_block(second, ev)
        for _ in range(rng.randrange(0, 3)):
            if rng.random() < 0.5:
                add_col(ev)
            data_block(rng.choice((TID_X, TID_Y)), ev)
        if rng.random() < 0.3:
            add_col(ev)  # trailing DDL, no data after it
        slices.append(ev)
    return slices, list(sink_cols), rows


def _drain(spark, work, slices, crash_at=None, phase=None):
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    pipeline = parse_pipeline_yaml(YAML)

    def mk(cls):
        return cls(
            spark, pipeline,
            state_root=os.path.join(work, "state"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            shuffle_partitions=4,
        )

    for i, ev in enumerate(slices):
        write_wire_file(os.path.join(src, f"s{i:04d}.json"), ev,
                        seq_start=i * 100_000)
        if i == crash_at:
            crasher = mk(CrashingRunner)
            crasher.arm(phase)
            with pytest.raises(Exception) as err:
                crasher.run_available(src)
            # the planted crash stopped the run, not some other error
            assert crasher.crashed is not None, err.value
            assert crasher.crashed in str(err.value)
            mk(StreamingPipelineRunner).run_available(src)
        else:
            mk(StreamingPipelineRunner).run_available(src)
    return LsmStateStore(spark, os.path.join(work, "state"))


def _collect(store, sink_cols):
    """Rows keyed by column NAME: the engine re-derives the N->1 sink
    schema from each slice's CREATE prefix (x's columns, then y's unseen
    ones appended — the SchemaMergingUtils rule), so column ORDER can
    legitimately differ from ADD application order; the column SET and
    every value must match."""
    df = store.read(SINK)
    assert df is not None
    assert set(df.columns) == set(sink_cols), (
        f"sink column set diverged: {sorted(df.columns)} vs {sorted(sink_cols)}"
    )
    return list(df.columns), {
        r["k"]: {c: r[c] for c in df.columns if c != "k"}
        for r in df.collect()
    }


@pytest.mark.parametrize("trial,phase", [
    (0, "pre"), (1, "seg1"), (2, "seg2"), (3, "ddl1"),
    (4, "post"), (5, "seg1"), (6, "ddl1"),
])
def test_routed_segment_crash_matches_uninterrupted_and_model(
    spark, tmp_path, trial, phase
):
    rng = random.Random(SEED + trial)
    n_slices = rng.randrange(2, 4)
    slices, sink_cols, model = _gen_slices(rng, n_slices)
    crash_at = rng.randrange(n_slices)

    base = _drain(spark, str(tmp_path / "base"), slices)
    want_cols, want = _collect(base, sink_cols)

    crashed = _drain(spark, str(tmp_path / "crash"), slices,
                     crash_at=crash_at, phase=phase)
    got_cols, got = _collect(crashed, sink_cols)

    model_view = {
        k: {c: row.get(c) for c in sink_cols if c != "k"}
        for k, row in model.items()
    }
    assert want == model_view, (
        f"trial {trial}: UNINTERRUPTED run diverged from the model: "
        f"keys {sorted(set(want) ^ set(model_view))}; first diffs "
        f"{ {k: (want[k], model_view[k]) for k in list(set(want) & set(model_view))[:3] if want[k] != model_view[k]} }"
    )
    # the crashed+resumed run must match the uninterrupted one EXACTLY,
    # column order included (same engine, same inputs)
    assert got_cols == want_cols, (
        f"trial {trial}: crash changed the sink column order: "
        f"{got_cols} vs {want_cols}"
    )
    assert got == want, (
        f"trial {trial}: crash at slice {crash_at}/{phase} diverged: "
        f"missing={set(want) - set(got)}, extra={set(got) - set(want)}, "
        f"changed={ {k for k in set(got) & set(want) if got[k] != want[k]} }"
    )
