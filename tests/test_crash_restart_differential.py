"""Crash-restart randomized differential across the epoch-keyed state
machines (r12 verdict item 4): random I/U/D histories with a crash
injected at a RANDOM epoch — either at the epoch boundary (before the
epoch's state write: the previous epoch committed, this one never ran)
or MID-EPOCH (after the state write but before the streaming
checkpoint commit: the version exists, the checkpoint doesn't know) —
then a fresh machine instance resumes over the same work dir. The
resumed run must land on the uninterrupted run's EXACT final state.

Mid-epoch is the case that kills non-idempotent designs: on restart
Spark replays the same epoch id, so the epoch's write must be a
same-content overwrite (versioned state / epoch-keyed emission), never
an append. Machines covered: RetractAggregateStream, RetractTopNStream,
IncrementalJoinView, streaming_ttl_dedup.

r15 addition for the LSM-backed retract machines: half the trials
force a compaction after every merge (compact_every=1, so the
crash-replay window always contains one). retract_topn's epoch commit
carries both state planes in ONE union-tagged LSM delta, so there is
no between-commits crash state to inject — the epoch write stays
all-or-nothing by construction."""

import os
import random

import pytest
from pyspark.sql import Row

from flink_cdc_spark.sources.envelope import OP_DELETE, OP_INSERT, OP_UPDATE
from flink_cdc_spark.streaming.incremental_join import IncrementalJoinView
from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream
from flink_cdc_spark.streaming.retract_topn import RetractTopNStream

SEED = 0xC4A54


class _Crash(Exception):
    pass


class _FaultMixin:
    """Arm a one-shot crash at (epoch, phase): phase 'pre' raises before
    the epoch's merge runs (clean boundary), 'post' raises after its
    state write landed but before foreachBatch returns (mid-epoch)."""

    def arm(self, epoch, phase):
        self._fault = (epoch, phase)

    def _merge_epoch(self, batch_df, epoch_id):
        ep, phase = getattr(self, "_fault", (None, None))
        if epoch_id == ep and phase == "pre":
            self._fault = (None, None)
            raise _Crash(f"injected pre-write crash at epoch {epoch_id}")
        super()._merge_epoch(batch_df, epoch_id)
        if epoch_id == ep and phase == "post":
            self._fault = (None, None)
            raise _Crash(f"injected post-write crash at epoch {epoch_id}")


class CrashingAgg(_FaultMixin, RetractAggregateStream):
    pass


class CrashingTopN(_FaultMixin, RetractTopNStream):
    pass


class CrashingJoin(_FaultMixin, IncrementalJoinView):
    pass


# -- random changelogs --------------------------------------------------------

_PAYLOAD = "k LONG, g STRING, val DOUBLE"


def _kv_env(spark, ops):
    def img(t):
        return None if t is None else Row(k=t[0], g=t[1], val=t[2])

    rows = [
        Row(__table_id="t.x", __op=op, before=img(b), after=img(a),
            __meta={}, __seq=seq)
        for (op, b, a, seq) in ops
    ]
    return spark.createDataFrame(
        rows,
        f"__table_id STRING, __op STRING, before STRUCT<{_PAYLOAD}>, "
        f"after STRUCT<{_PAYLOAD}>, __meta MAP<STRING,STRING>, __seq LONG",
    )


def _random_kv_changelog(rng, n_keys=8, n_mut=25):
    """Random I/U/D ops with at least one UPDATE and one DELETE, so all
    three staged replay batches exist."""
    groups = ["A", "B", "C"]
    ops, state, seq = [], {}, 0

    def payload(k):
        return (k, rng.choice(groups), rng.randrange(1, 500) + 0.25 * rng.randrange(4))

    for k in range(n_keys):
        p = payload(k)
        ops.append((OP_INSERT, None, p, seq)); seq += 1
        state[k] = p
    n_upd = n_del = 0
    for _ in range(n_mut):
        if not state:
            break
        k = rng.choice(sorted(state))
        if rng.random() < 0.7 or len(state) <= 2:
            p = payload(k)
            ops.append((OP_UPDATE, state[k], p, seq)); seq += 1
            state[k] = p; n_upd += 1
        else:
            ops.append((OP_DELETE, state[k], None, seq)); seq += 1
            del state[k]; n_del += 1
    if not n_upd:
        k = rng.choice(sorted(state))
        p = payload(k)
        ops.append((OP_UPDATE, state[k], p, seq)); seq += 1
        state[k] = p
    if not n_del:
        k = rng.choice(sorted(state))
        ops.append((OP_DELETE, state[k], None, seq)); seq += 1
        del state[k]
    return ops


_JOIN_PAYLOAD = (
    "struct<o_pk:bigint, o_fk:bigint, o_val:string, c_pk:bigint, c_name:string>"
)


def _join_env(spark, rows):
    data = [(tid, op, b, a, {}, seq) for tid, op, b, a, seq in rows]
    return spark.createDataFrame(
        data,
        f"__table_id string, __op string, before {_JOIN_PAYLOAD}, "
        f"after {_JOIN_PAYLOAD}, __meta map<string,string>, __seq bigint",
    )


def _random_join_changelog(rng, n_cust=5, n_ord=10, n_mut=18):
    def c_img(pk, name):
        return (None, None, None, pk, name)

    def o_img(pk, fk, val):
        return (pk, fk, val, None, None)

    rows, seq = [], 0
    cust = {k: f"name{k}" for k in range(n_cust)}
    for k, n in cust.items():
        rows.append(("t.cust", OP_INSERT, None, c_img(k, n), seq)); seq += 1
    orders = {}
    for o in range(n_ord):
        fk = rng.randrange(n_cust + 2)  # some dangling FKs
        orders[o] = (fk, f"v{o}")
        rows.append(("t.orders", OP_INSERT, None, o_img(o, fk, f"v{o}"), seq))
        seq += 1
    n_upd = n_del = 0
    for _ in range(n_mut):
        r = rng.random()
        if r < 0.35 and cust:  # customer rename or delete
            k = rng.choice(sorted(cust))
            if rng.random() < 0.6:
                new = cust[k].upper() + "x"
                rows.append(("t.cust", OP_UPDATE, c_img(k, cust[k]),
                             c_img(k, new), seq)); seq += 1
                cust[k] = new; n_upd += 1
            else:
                rows.append(("t.cust", OP_DELETE, c_img(k, cust[k]), None, seq))
                seq += 1; del cust[k]; n_del += 1
        elif orders:
            o = rng.choice(sorted(orders))
            fk, val = orders[o]
            if rng.random() < 0.6:
                nfk = rng.randrange(n_cust + 2)
                rows.append(("t.orders", OP_UPDATE, o_img(o, fk, val),
                             o_img(o, nfk, val + "u"), seq)); seq += 1
                orders[o] = (nfk, val + "u"); n_upd += 1
            else:
                rows.append(("t.orders", OP_DELETE, o_img(o, fk, val), None, seq))
                seq += 1; del orders[o]; n_del += 1
    if not n_upd and orders:
        o = rng.choice(sorted(orders))
        fk, val = orders[o]
        rows.append(("t.orders", OP_UPDATE, o_img(o, fk, val),
                     o_img(o, fk, val + "u"), seq)); seq += 1
        orders[o] = (fk, val + "u")
    if not n_del and orders:
        o = rng.choice(sorted(orders))
        fk, val = orders[o]
        rows.append(("t.orders", OP_DELETE, o_img(o, fk, val), None, seq))
        seq += 1; del orders[o]
    return rows


def _run_with_crash(machine, epoch, phase):
    """First run crashes as armed; a caller-provided fresh instance then
    resumes. Returns True if the crash actually fired (the armed epoch
    existed)."""
    machine.arm(epoch, phase)
    try:
        machine.run()
        return False  # armed epoch never ran (fewer batches than epoch id)
    except Exception:
        return True


# -- the differentials --------------------------------------------------------

@pytest.mark.parametrize("trial", range(2))
def test_retract_agg_crash_restart(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    ops = _random_kv_changelog(rng)
    env = _kv_env(spark, ops)

    base = RetractAggregateStream(spark, str(tmp_path / "base"), "g", "val")
    base.stage(env)
    base.run()
    want = sorted((r.grp, r.n_rows, r.sum_cents)
                  for r in base.current_state().collect())

    epoch, phase = rng.randrange(3), ("pre", "post")[trial % 2]
    # half the trials force a compaction after EVERY merge, so the
    # crash-replay window always contains one (the r13 LSM bug class was
    # only visible with compaction inside the window); the base machine
    # stays uncompacted, cross-checking compacted vs raw reads agree
    ce = 1 if trial % 2 else 8
    crash = CrashingAgg(spark, str(tmp_path / "crash"), "g", "val",
                        compact_every=ce)
    crash.stage(env)
    assert _run_with_crash(crash, epoch, phase)
    resumed = RetractAggregateStream(spark, str(tmp_path / "crash"), "g",
                                     "val", compact_every=ce)
    resumed.run()
    got = sorted((r.grp, r.n_rows, r.sum_cents)
                 for r in resumed.current_state().collect())
    assert got == want, f"crash at epoch {epoch}/{phase} diverged"


@pytest.mark.parametrize("trial", range(2))
def test_retract_topn_crash_restart(spark, tmp_path, trial):
    rng = random.Random(SEED + 100 + trial)
    ops = _random_kv_changelog(rng)
    env = _kv_env(spark, ops)

    base = RetractTopNStream(spark, str(tmp_path / "base"),
                             key="k", group="g", value="val", n=2)
    base.stage(env)
    base.run()
    want = sorted((r.g, r.rnk, r.k, r.value_cents)
                  for r in base.current_topn().collect())

    epoch, phase = rng.randrange(3), ("pre", "post")[trial % 2]
    # compaction pressure on half the trials (see the agg differential)
    ce = 1 if trial % 2 else 8
    crash = CrashingTopN(spark, str(tmp_path / "crash"),
                         key="k", group="g", value="val", n=2,
                         compact_every=ce)
    crash.stage(env)
    assert _run_with_crash(crash, epoch, phase)
    resumed = RetractTopNStream(spark, str(tmp_path / "crash"),
                                key="k", group="g", value="val", n=2,
                                compact_every=ce)
    resumed.run()
    got = sorted((r.g, r.rnk, r.k, r.value_cents)
                 for r in resumed.current_topn().collect())
    assert got == want, f"crash at epoch {epoch}/{phase} diverged"


def _join_args():
    return dict(
        left_table_id="t.orders", right_table_id="t.cust",
        pk_left="o_pk", join_key="o_fk", pk_right="c_pk",
        left_cols=["o_pk", "o_fk", "o_val"], right_cols=["c_pk", "c_name"],
    )


@pytest.mark.parametrize("trial", range(2))
def test_incremental_join_crash_restart(spark, tmp_path, trial):
    rng = random.Random(SEED + 200 + trial)
    rows = _random_join_changelog(rng)
    env = _join_env(spark, rows)

    base = IncrementalJoinView(spark, str(tmp_path / "base"), **_join_args())
    base.stage(env)
    base.run()
    want = sorted((r.o_pk, r.o_fk, r.o_val, r.c_name)
                  for r in base.current_view().collect())

    epoch, phase = rng.randrange(3), ("pre", "post")[trial % 2]
    # compaction pressure on half the trials (see the agg differential):
    # the crash-replay window then always contains a compaction
    ce = 1 if trial % 2 else 8
    crash = CrashingJoin(spark, str(tmp_path / "crash"),
                         compact_every=ce, **_join_args())
    crash.stage(env)
    assert _run_with_crash(crash, epoch, phase)
    resumed = IncrementalJoinView(spark, str(tmp_path / "crash"),
                                  compact_every=ce, **_join_args())
    resumed.run()
    got = sorted((r.o_pk, r.o_fk, r.o_val, r.c_name)
                 for r in resumed.current_view().collect())
    assert got == want, f"crash at epoch {epoch}/{phase} diverged"


@pytest.mark.parametrize("trial", range(2))
def test_ttl_dedup_crash_restart(spark, tmp_path, trial):
    """Random 4-stripe event sets; mid-epoch crash must not duplicate the
    crashed batch's emissions on replay (epoch-keyed overwrite, not
    append)."""
    from datetime import datetime, timedelta

    from flink_cdc_spark.streaming.ttl_dedup import (
        N_TTL_BATCHES, stage_ttl_batches, streaming_ttl_dedup,
    )

    rng = random.Random(SEED + 300 + trial)
    base_day = datetime(2024, 1, 1)
    rows = []
    # every stripe populated by construction (one anchor key per stripe),
    # then random keys with random stripe subsets
    for b in range(N_TTL_BATCHES):
        rows.append(Row(user_id=10_000 + b, event_type="anchor",
                        ts=base_day + timedelta(days=b * 7, hours=1)))
    for k in range(rng.randrange(15, 30)):
        stripes = rng.sample(range(N_TTL_BATCHES),
                             rng.randrange(1, N_TTL_BATCHES + 1))
        for b in stripes:
            for _ in range(rng.randrange(1, 3)):  # duplicates inside a stripe
                rows.append(Row(
                    user_id=k, event_type=rng.choice(["click", "view"]),
                    ts=base_day + timedelta(days=b * 7,
                                            hours=rng.randrange(2, 100)),
                ))
    events = spark.createDataFrame(rows, "user_id LONG, event_type STRING, ts TIMESTAMP")
    staged = str(tmp_path / "staged")
    stage_ttl_batches(events, staged)

    want = sorted(
        tuple(r) for r in streaming_ttl_dedup(
            spark, staged, str(tmp_path / "w_base"), str(tmp_path / "e_base")
        ).collect()
    )

    epoch, phase = rng.randrange(N_TTL_BATCHES), ("pre", "post")[trial % 2]
    fired = []

    def fault(eid, ph):
        if eid == epoch and ph == phase and not fired:
            fired.append(eid)
            raise _Crash(f"injected {ph} crash at epoch {eid}")

    with pytest.raises(Exception):
        streaming_ttl_dedup(
            spark, staged, str(tmp_path / "w_crash"), str(tmp_path / "e_crash"),
            on_epoch=fault,
        )
    assert fired
    got = sorted(
        tuple(r) for r in streaming_ttl_dedup(
            spark, staged, str(tmp_path / "w_crash"), str(tmp_path / "e_crash")
        ).collect()
    )
    assert got == want, f"crash at epoch {epoch}/{phase} diverged"

