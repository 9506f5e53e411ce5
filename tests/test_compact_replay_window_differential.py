"""Wave-16 differential (VERDICT r15 item 5): a maintenance compaction
run from a FRESH PROCESS between a crashed epoch's delta commit and its
replay must not bake the crashed attempt's delta into the base.

The window under attack: foreachBatch epoch N merges its delta (the
manifest references it, tagged epoch=N), then crashes BEFORE the
streaming checkpoint commits. An operator now runs `compact()` from a
new process (routine table maintenance — nothing marks the table as
mid-crash). On restart, Structured Streaming re-delivers epoch N; the
machine's replay-overwrite (`drop_epoch_deltas`) must still be able to
unreference the crashed attempt — impossible if compaction folded it
into the base (the epoch would double-apply: once baked, once replayed).

Before r16 the in-flight exclusion lived only in the writer's memory
(`begin_epoch`), so the fresh-process compact had `_epoch is None` and
excluded nothing — the exact latent corruption this trial pins. The
marker is now persisted per table in the manifest and cleared by
`seal()` once the checkpoint commits.

Machines: RetractAggregateStream, RetractTopNStream (the union-tagged
single-commit writer), StreamingTemporalJoin is covered structurally by
the same store path (test_lsm_inflight_epoch pins the store semantics).
"""

import random

import pytest

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream
from flink_cdc_spark.streaming.retract_topn import RetractTopNStream

from tests.test_crash_restart_differential import (
    CrashingAgg,
    CrashingTopN,
    _kv_env,
    _random_kv_changelog,
    _run_with_crash,
)

SEED = 0x16C0


def _maintenance_compact(spark, machine, table):
    """Simulate an operator compacting from a brand-new process: a fresh
    store over the same dir, no announced epoch, no machine context."""
    fresh = LsmStateStore(spark, machine.state_dir, compact_every=10**9)
    fresh.compact(table)
    return fresh


@pytest.mark.parametrize("trial", range(2))
def test_retract_agg_compact_inside_crash_replay_window(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    ops = _random_kv_changelog(rng)
    env = _kv_env(spark, ops)

    base = RetractAggregateStream(spark, str(tmp_path / "base"), "g", "val")
    base.stage(env)
    base.run()
    want = sorted((r.grp, r.n_rows, r.sum_cents)
                  for r in base.current_state().collect())

    # post-write crash: the epoch's delta is committed, its checkpoint not
    epoch = rng.randrange(1, 3)
    crash = CrashingAgg(spark, str(tmp_path / "crash"), "g", "val")
    crash.stage(env)
    assert _run_with_crash(crash, epoch, "post")

    # the attack: maintenance compaction from a fresh process, THEN replay
    fresh = _maintenance_compact(spark, crash, "agg")
    m = fresh._load("agg")
    assert all(d.get("epoch") == epoch for d in m["deltas"]), (
        "the crashed epoch's delta must survive as a delta — everything "
        "older may fold"
    )

    resumed = RetractAggregateStream(spark, str(tmp_path / "crash"), "g", "val")
    resumed.run()
    got = sorted((r.grp, r.n_rows, r.sum_cents)
                 for r in resumed.current_state().collect())
    assert got == want, (
        f"compact inside the crash-replay window (epoch {epoch}) diverged"
    )


@pytest.mark.parametrize("trial", range(2))
def test_retract_topn_compact_inside_crash_replay_window(spark, tmp_path, trial):
    rng = random.Random(SEED + 50 + trial)
    ops = _random_kv_changelog(rng)
    env = _kv_env(spark, ops)

    base = RetractTopNStream(spark, str(tmp_path / "base"),
                             key="k", group="g", value="val", n=2)
    base.stage(env)
    base.run()
    want = sorted((r.g, r.rnk, r.k, r.value_cents)
                  for r in base.current_topn().collect())

    epoch = rng.randrange(1, 3)
    crash = CrashingTopN(spark, str(tmp_path / "crash"),
                         key="k", group="g", value="val", n=2)
    crash.stage(env)
    assert _run_with_crash(crash, epoch, "post")

    fresh = _maintenance_compact(spark, crash, "both")
    m = fresh._load("both")
    assert all(d.get("epoch") == epoch for d in m["deltas"])

    resumed = RetractTopNStream(spark, str(tmp_path / "crash"),
                                key="k", group="g", value="val", n=2)
    resumed.run()
    got = sorted((r.g, r.rnk, r.k, r.value_cents)
                 for r in resumed.current_topn().collect())
    assert got == want, (
        f"compact inside the crash-replay window (epoch {epoch}) diverged"
    )
