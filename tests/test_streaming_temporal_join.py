"""Differential wave 13a — the streaming temporal-table join
(streaming/temporal_join_stream.py): randomized dimension changelogs
whose SCD2 versions move BETWEEN epochs (inserts, updates, deletes,
re-inserts after delete), probes interleaved in event-time order —
including probes in the SAME batch as the version they must see, and
probes that must see NOTHING (before the first version / after a
DELETE / unknown key). Verified three ways:

  * the accumulated enrichment == a sequential linear-scan model
    (latest dim event at-or-before the probe ts; NULL if that event is
    a DELETE or absent) — the FOR SYSTEM_TIME AS OF contract;
  * the maintained history state == `operators/scd2.scd2_history` over
    the full changelog (the incremental fold is row-identical to the
    batch operator, ordinals included);
  * a crash injected at a random epoch (before the fold / between the
    history write and the probe output / after the output but before
    the checkpoint commit), resumed by a FRESH instance over the same
    checkpoint, converges to the uninterrupted result — the
    epoch-keyed overwrite idempotence contract.
"""

import datetime
import os
import random

import pytest

from pyspark.sql import functions as F, types as T

from flink_cdc_spark.streaming.temporal_join_stream import StreamingTemporalJoin

SEED = 0x713A
DIM = "d.dim"
PROBE = "d.probe"
EPOCH_SECONDS = 1000


class _Crash(Exception):
    pass


class CrashingTemporalJoin(StreamingTemporalJoin):
    """phase 'pre': nothing of the epoch lands; 'mid': the history fold
    commits, the probe output doesn't; 'post': everything lands, the
    checkpoint commit doesn't."""

    def arm(self, epoch, phase):
        self._crash_epoch = epoch
        self._phase = phase

    def _merge_epoch(self, batch_df, epoch_id):
        if epoch_id == self._crash_epoch and self._phase == "pre":
            raise _Crash("pre-epoch crash")
        super()._merge_epoch(batch_df, epoch_id)
        if epoch_id == self._crash_epoch and self._phase == "post":
            raise _Crash("post-epoch pre-commit crash")

    def _fold_history(self, dim_env, epoch_id):
        super()._fold_history(dim_env, epoch_id)
        if epoch_id == self._crash_epoch and self._phase == "mid":
            raise _Crash("mid-epoch crash after history fold")


ENV_SCHEMA = T.StructType([
    T.StructField("__table_id", T.StringType()),
    T.StructField("__op", T.StringType()),
    T.StructField("before", T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("pid", T.LongType()),
        T.StructField("pk", T.LongType()),
        T.StructField("pts", T.TimestampType()),
    ])),
    T.StructField("after", T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("pid", T.LongType()),
        T.StructField("pk", T.LongType()),
        T.StructField("pts", T.TimestampType()),
    ])),
    T.StructField("__meta", T.MapType(T.StringType(), T.StringType())),
    T.StructField("__seq", T.LongType()),
    T.StructField("__b", T.IntegerType()),
])

T0 = datetime.datetime(2024, 1, 1)


def _ts(sec):
    return T0 + datetime.timedelta(seconds=sec)


def _gen(rng, n_epochs, n_keys):
    """-> (env rows, dim_events, probes). dim_events: {k: [(ts_sec,
    alive, v)]} in event order; probes: [(pid, pk, ts_sec, epoch)].
    Event time is globally ordered across epochs; probes of epoch e land
    anywhere inside e's window — before or after that epoch's own dim
    events."""
    rows = []
    dim_events = {}
    probes = []
    alive = {}
    seq = 0
    pid = 0
    for e in range(n_epochs):
        lo = e * EPOCH_SECONDS
        # dim events this epoch, increasing ts
        secs = sorted(rng.sample(range(lo + 1, lo + EPOCH_SECONDS - 1),
                                 rng.randrange(0, 6)))
        for s in secs:
            k = rng.randrange(n_keys)
            ev = dim_events.setdefault(k, [])
            if not alive.get(k):
                op, val = "INSERT", f"v{seq}"
            elif rng.random() < 0.25:
                op, val = "DELETE", None
            else:
                op, val = "UPDATE", f"v{seq}"
            alive[k] = op != "DELETE"
            ev.append((s, op != "DELETE", val))
            img = (k, val, None, None, None) if op != "DELETE" else None
            before = (k, "x", None, None, None) if op != "INSERT" else None
            rows.append((DIM, op, before, img,
                         {"op_ts": _ts(s).strftime("%Y-%m-%d %H:%M:%S")},
                         seq, e))
            seq += 1
        # probes this epoch: anywhere in the epoch window
        for _ in range(rng.randrange(2, 7)):
            s = rng.randrange(lo, lo + EPOCH_SECONDS)
            pk = rng.randrange(n_keys + 2)  # +2: unknown keys
            probes.append((pid, pk, s, e))
            rows.append((PROBE, "INSERT", None,
                         (None, None, pid, pk, _ts(s)),
                         {}, 10_000_000 + pid, e))
            pid += 1
    return rows, dim_events, probes


def _model(dim_events, probes):
    """latest dim event at-or-before the probe ts; NULL when that event
    is a DELETE or when there is none."""
    out = {}
    for pid, pk, s, _e in probes:
        match = None
        for i, (es, ealive, ev) in enumerate(dim_events.get(pk, [])):
            if es <= s:
                match = (ealive, ev, i + 1)
        out[pid] = (match[1], match[2]) if match and match[0] else (None, None)
    return out


def _run(spark, work, rows, n_epochs, cls=StreamingTemporalJoin,
         crash=None, phase=None, compact_every=8):
    tj_args = dict(
        dim_table_id=DIM, probe_table_id=PROBE, dim_key="k",
        payload_cols=["v"], probe_key="pk", probe_ts="pts",
        probe_cols=["pid", "pk", "pts"], n_batches=n_epochs,
        compact_every=compact_every,
    )
    tj = cls(spark, work, **tj_args)
    if not tj.staged():
        tj.stage(spark.createDataFrame(rows, ENV_SCHEMA))
    if crash is not None:
        tj.arm(crash, phase)
        with pytest.raises(Exception):
            tj.run()
        tj = StreamingTemporalJoin(spark, work, **tj_args)
    tj.run()
    return tj


@pytest.mark.parametrize("trial,crash_phase", [
    (0, None), (1, "pre"), (2, "mid"), (3, "post"),
])
def test_streaming_temporal_join_matches_model(spark, tmp_path, trial,
                                               crash_phase):
    rng = random.Random(SEED + trial)
    n_epochs = rng.randrange(3, 6)
    rows, dim_events, probes = _gen(rng, n_epochs, n_keys=8)
    crash = rng.randrange(n_epochs) if crash_phase else None

    # odd trials force a compaction after EVERY history delta commit:
    # crash replay must then drop its own delta from a manifest whose
    # BASE already folds the committed predecessors (in-flight epochs
    # are excluded from compaction by design — this pins that rule)
    tj = _run(spark, str(tmp_path / "w"), rows, n_epochs,
              cls=CrashingTemporalJoin if crash_phase else StreamingTemporalJoin,
              crash=crash, phase=crash_phase,
              compact_every=1 if trial % 2 else 8)

    got = {
        r.pid: (r.v, r.valid_from_ver)
        for r in tj.enriched().collect()
    }
    want = _model(dim_events, probes)
    assert got == want, (
        f"trial {trial} crash={crash}/{crash_phase}: "
        f"{dict(set(got.items()) ^ set(want.items()))}"
    )


def test_incremental_history_equals_batch_scd2(spark, tmp_path):
    """The maintained history state is row-identical (ordinals included)
    to the batch scd2_history over the full dimension changelog."""
    from flink_cdc_spark.operators.scd2 import scd2_history

    rng = random.Random(SEED + 99)
    n_epochs = 5
    rows, dim_events, _probes = _gen(rng, n_epochs, n_keys=6)
    tj = _run(spark, str(tmp_path / "w"), rows, n_epochs)

    got = {
        (r.k, r.valid_from_ver): (
            r.v, r.valid_to_ver, r.valid_from_ts, r.valid_to_ts, r.is_current
        )
        for r in tj.current_history().collect()
    }
    dim_env = spark.createDataFrame(
        [r for r in rows if r[0] == DIM], ENV_SCHEMA
    ).drop("__b")
    want_df = scd2_history(
        dim_env, "k", payload_cols=["v"],
        ts_expr="CAST(__meta['op_ts'] AS TIMESTAMP)",
    )
    want = {
        (r.k, r.valid_from_ver): (
            r.v, r.valid_to_ver, r.valid_from_ts, r.valid_to_ts, r.is_current
        )
        for r in want_df.collect()
    }
    assert got == want


def test_per_epoch_history_write_is_o_batch(spark, tmp_path):
    """VERDICT r14 item 4 'done' gate: the per-epoch history WRITE is
    O(batch), asserted on the LSM delta files themselves — each epoch's
    delta holds only the batch's new version rows plus one close-update
    per touched open version, and untouched keys are never rewritten.
    (The old epoch-versioned parquet state rewrote the FULL history
    every epoch.)"""
    # 3 dim epochs: epoch 0 inserts keys 0..4, epochs 1/2 update ONE key
    rows = []
    seq = 0
    for k in range(5):
        rows.append((DIM, "INSERT", None, (k, f"v{seq}", None, None, None),
                     {"op_ts": _ts(k + 1).strftime("%Y-%m-%d %H:%M:%S")},
                     seq, 0))
        seq += 1
    for e, k in ((1, 0), (2, 1)):
        rows.append((DIM, "UPDATE", (k, "x", None, None, None),
                     (k, f"v{seq}", None, None, None),
                     {"op_ts": _ts(e * EPOCH_SECONDS + 1).strftime(
                         "%Y-%m-%d %H:%M:%S")},
                     seq, e))
        seq += 1
    tj = _run(spark, str(tmp_path / "w"), rows, 3)

    m = tj.state._load("hist")
    deltas = m["deltas"]
    assert len(deltas) == 3
    sizes = {
        d["epoch"]: spark.read.parquet(
            str(tmp_path / "w" / "state" / "hist" / f"delta-{d['id']:08d}")
        )
        for d in deltas
    }
    # epoch 0: 5 inserts -> 5 rows; epochs 1/2: 1 close + 1 new = 2 rows
    assert sizes[0].count() == 5
    assert sizes[1].count() == 2
    assert sizes[2].count() == 2
    # untouched keys are never rewritten: keys 2..4 appear in exactly
    # one delta (their insert epoch)
    for k in (2, 3, 4):
        hits = [e for e, df in sizes.items()
                if df.where(F.col("k") == k).count() > 0]
        assert hits == [0], f"key {k} rewritten in epochs {hits}"
    # and the merged state is the full 7-version history
    assert tj.current_history().count() == 7


def test_steady_state_epochs_serve_reads_from_carry(spark, tmp_path):
    """r16 optimization round: within one run the resolved history is
    carried across epochs in-process, so steady-state epochs do ZERO
    merge-on-read disk resolutions — the fold's touched-read and the
    enrichment's probe-read are both served by the carried frame. The
    only store read a fresh run may perform is the first fold's attach
    (which on an empty store returns None). Correctness is pinned by
    the model as everywhere else."""
    from flink_cdc_spark.sinks.lsm_store import LsmStateStore

    rng = random.Random(SEED + 900)
    n_epochs = 4
    rows, dim_events, probes = _gen(rng, n_epochs, n_keys=8)

    calls = []
    orig_read = LsmStateStore.read

    def spy(self, table, predicate=None):
        calls.append(table)
        return orig_read(self, table, predicate=predicate)

    LsmStateStore.read = spy
    try:
        tj = _run(spark, str(tmp_path / "w"), rows, n_epochs)
        got = {r.pid: (r.v, r.valid_from_ver)
               for r in tj.enriched().collect()}
    finally:
        LsmStateStore.read = orig_read
    assert got == _model(dim_events, probes)
    # the run resolves the store once per epoch only UNTIL the first
    # fold adopts a carry (each leading dim-less epoch pays one probe
    # read of the empty store, the first fold pays the attach read);
    # every epoch after that reads the carry — zero disk resolutions
    first_dim_epoch = min(r[6] for r in rows if r[0] == DIM)
    assert calls.count("hist") <= first_dim_epoch + 1, calls
