"""Wave 15b — store-level property differential for the r15 epoch-replay
machinery in LsmStateStore (epoch-stamped deltas, drop_epoch_deltas,
in-flight-excluded compaction).

The deltas here are STATE-DEPENDENT — each epoch reads the current
state and writes values derived from it (val' = val + increment, the
shape of the temporal join's SCD2 fold) — which is exactly the class
where crash-replay is NOT value-idempotent: re-merging a recomputed
batch on top of the crashed attempt's committed delta would compound
the increment. The replay contract (announce epoch -> drop your own
leftover delta -> read -> recompute -> merge) must converge anyway:

  * random epochs crash AFTER their delta commit and replay from the
    top (the worst window);
  * compact_every=1 in half the trials, so a compaction sits inside
    every replay window — pinning that the in-flight epoch's delta is
    never baked into the base (else the drop is impossible and the
    replay compounds);
  * final state == a sequential dict model applying each epoch once.
"""

import random

import pytest

from pyspark.sql import functions as F, types as T

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import wrap_as_inserts

SEED = 0x15B0
TABLE = "db.counters"
STRUCT = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("val", T.LongType()),
])


def _merge(store, spark, rows):
    df = spark.createDataFrame(rows, STRUCT)
    store.merge(TABLE, wrap_as_inserts(df, TABLE), STRUCT, ["k"])


def _epoch_body(store, spark, epoch, touched, increments):
    """The state-dependent epoch: announce, drop leftovers, READ the
    current values of the touched keys and merge val+inc back."""
    store.begin_epoch(epoch)
    store.drop_epoch_deltas(TABLE, epoch)
    cur = store.read(TABLE)
    have = (
        {r.k: r.val for r in cur.where(F.col("k").isin(touched)).collect()}
        if cur is not None
        else {}
    )
    rows = [(k, have.get(k, 0) + inc) for k, inc in zip(touched, increments)]
    _merge(store, spark, rows)


@pytest.mark.parametrize("trial", range(4))
def test_state_dependent_epoch_replay_converges(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    compact_every = 1 if trial % 2 else 8
    store = LsmStateStore(
        spark, str(tmp_path / "lsm"), compact_every=compact_every
    )
    n_keys = 6
    model = {}
    n_epochs = rng.randrange(4, 7)
    for epoch in range(n_epochs):
        touched = rng.sample(range(n_keys), rng.randrange(1, 4))
        increments = [rng.randrange(1, 100) for _ in touched]
        replays = rng.randrange(0, 3)  # 0 = clean; 1-2 crashed attempts
        for _attempt in range(replays):
            # crashed attempt: the delta COMMITS, the checkpoint doesn't
            _epoch_body(store, spark, epoch, touched, increments)
        _epoch_body(store, spark, epoch, touched, increments)
        for k, inc in zip(touched, increments):  # model: applied ONCE
            model[k] = model.get(k, 0) + inc

    got = {r.k: r.val for r in store.read(TABLE).collect()}
    assert got == model, (
        f"trial {trial} (compact_every={compact_every}): {got} != {model}"
    )


def test_replay_after_compaction_of_predecessors(spark, tmp_path):
    """Deterministic pin of the exact seam: epoch N's crashed delta is
    dropped on replay even though a compaction (triggered during the
    crashed attempt) folded all PRIOR epochs into a new base."""
    store = LsmStateStore(spark, str(tmp_path / "lsm"), compact_every=2)
    _epoch = lambda e, inc: _epoch_body(store, spark, e, [0], [inc])
    _epoch(0, 5)
    _epoch(1, 7)   # compaction fires here (2 committed deltas)
    _epoch(2, 11)  # crashed attempt: delta commits, compact folds 0/1
    _epoch(2, 11)  # replay: must drop its own delta, read 12, write 23
    got = {r.k: r.val for r in store.read(TABLE).collect()}
    assert got == {0: 23}
    # the in-flight delta was never baked: the manifest still lists it
    m = store._load(TABLE)
    assert [d.get("epoch") for d in m["deltas"]] == [2]
