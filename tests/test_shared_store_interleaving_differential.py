"""Wave-16b differential (VERDICT r15 item 7): two epoch-state machines
sharing ONE LsmStateStore directory, epochs interleaved, with a crash
between one machine's delta commit and its replay — resumed from fresh
instances (new "process"). Pins that epoch provenance is PER TABLE:

  * machine B's replay-overwrite (`drop_epoch_deltas("both", 1)`) must
    never cross-drop machine A's epoch-1 delta on table "agg";
  * a maintenance compaction over the shared directory folds each
    table independently, honoring each table's own persisted
    in-flight-epoch marker;
  * both machines land on their uninterrupted-run reference states.

The machines are driven through `_merge_epoch` directly (the epoch
interleaving a shared Spark cluster would produce cannot be expressed
as two availableNow streams), with begin_epoch/drop_epoch_deltas living
inside the machines exactly as in streaming execution.
"""

import random

import pytest

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream
from flink_cdc_spark.streaming.retract_topn import RetractTopNStream

from tests.test_crash_restart_differential import (
    _kv_env,
    _random_kv_changelog,
)

SEED = 0x16B


def _batches(machine, spark):
    """The staged epoch batch frames, in replay order."""
    import os

    out = []
    for b in range(3):
        p = os.path.join(machine.active, f"b{b}.parquet")
        if os.path.exists(p):
            out.append(spark.read.schema(machine._schema).parquet(p))
    return out


def _mk_agg(spark, path, shared):
    m = RetractAggregateStream(spark, path, "g", "val")
    m.state = LsmStateStore(spark, shared, compact_every=8)
    return m


def _mk_topn(spark, path, shared):
    m = RetractTopNStream(spark, path, key="k", group="g", value="val", n=2)
    m.state = LsmStateStore(spark, shared, compact_every=8)
    return m


@pytest.mark.parametrize("trial", range(2))
def test_shared_store_interleaved_crash_replay(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    env_a = _kv_env(spark, _random_kv_changelog(rng))
    env_b = _kv_env(spark, _random_kv_changelog(rng))

    # references: uninterrupted runs in private dirs
    ref_a = RetractAggregateStream(spark, str(tmp_path / "ref_a"), "g", "val")
    ref_a.stage(env_a)
    ref_a.run()
    want_a = sorted((r.grp, r.n_rows, r.sum_cents)
                    for r in ref_a.current_state().collect())
    ref_b = RetractTopNStream(spark, str(tmp_path / "ref_b"),
                              key="k", group="g", value="val", n=2)
    ref_b.stage(env_b)
    ref_b.run()
    want_b = sorted((r.g, r.rnk, r.k, r.value_cents)
                    for r in ref_b.current_topn().collect())

    shared = str(tmp_path / "shared_store")
    a = _mk_agg(spark, str(tmp_path / "a"), shared)
    a.stage(env_a)
    b = _mk_topn(spark, str(tmp_path / "b"), shared)
    b.stage(env_b)
    ba, bb = _batches(a, spark), _batches(b, spark)
    assert len(ba) == 3 and len(bb) == 3

    # interleave: A0 B0 A1 B1 — then B crashes AFTER B1's delta commit
    a._merge_epoch(ba[0], 0)
    b._merge_epoch(bb[0], 0)
    a._merge_epoch(ba[1], 1)
    b._merge_epoch(bb[1], 1)  # delta committed; checkpoint never commits

    # cross-table provenance intact at crash time
    store = LsmStateStore(spark, shared)
    assert {d["epoch"] for d in store._load("agg")["deltas"]} == {0, 1}
    assert {d["epoch"] for d in store._load("both")["deltas"]} == {0, 1}

    # maintenance compaction over the shared dir from a fresh process:
    # each table's own in-flight marker (agg: 1 from A's last merge,
    # both: 1 from B's) keeps its epoch-1 delta out of its base
    maint = LsmStateStore(spark, shared, compact_every=10**9)
    maint.compact("agg")
    maint.compact("both")
    assert [d["epoch"] for d in maint._load("agg")["deltas"]] == [1]
    assert [d["epoch"] for d in maint._load("both")["deltas"]] == [1]

    # fresh instances resume: B replays epoch 1 (drop + re-merge) — the
    # drop must not touch agg's epoch-1 delta
    a2 = _mk_agg(spark, str(tmp_path / "a"), shared)
    a2._schema = a._schema
    b2 = _mk_topn(spark, str(tmp_path / "b"), shared)
    b2._schema = b._schema
    before_agg = {d["id"] for d in maint._load("agg")["deltas"]}
    b2._merge_epoch(bb[1], 1)  # replay-overwrite
    after_agg = {d["id"] for d in LsmStateStore(spark, shared)._load("agg")["deltas"]}
    assert before_agg == after_agg, (
        "B's epoch-1 replay cross-dropped A's epoch-1 delta"
    )
    # both machines complete
    a2._merge_epoch(ba[2], 2)
    b2._merge_epoch(bb[2], 2)

    got_a = sorted((r.grp, r.n_rows, r.sum_cents)
                   for r in a2.current_state().collect())
    got_b = sorted((r.g, r.rnk, r.k, r.value_cents)
                   for r in b2.current_topn().collect())
    assert got_a == want_a, "shared-store agg diverged"
    assert got_b == want_b, "shared-store topn diverged"
