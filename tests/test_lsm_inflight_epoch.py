"""Persisted in-flight-epoch marker (r16, VERDICT r15 item 4/5): the
compaction exclusion of the announced epoch's deltas must survive a
PROCESS boundary. Previously ``begin_epoch`` kept the epoch only in
memory, so a maintenance ``compact()`` run from a fresh process between
a crashed epoch's delta commit and its replay would bake the crashed
attempt's delta into the base — making the replay-overwrite
(``drop_epoch_deltas``) impossible and double-applying the epoch.

Store-level semantics pinned here; the machine-level crash trial lives
in test_compact_replay_window_differential.py (wave 16).
"""

from pyspark.sql import types as T

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import wrap_as_upsert_deletes

STRUCT = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
)


def _env(spark, rows):
    df = spark.createDataFrame(
        [(i, v, d) for (i, v, d) in rows], "id long, v long, __dead boolean"
    )
    return wrap_as_upsert_deletes(df, "t", "__dead")


def _merge(store, spark, rows):
    store.merge("t", _env(spark, rows), STRUCT, ["id"])


def test_marker_persists_and_blocks_fresh_process_compaction(spark, tmp_path):
    w = LsmStateStore(spark, str(tmp_path), compact_every=100)
    w.begin_epoch(0)
    _merge(w, spark, [(1, 10, False), (2, 20, False)])
    w.begin_epoch(1)
    _merge(w, spark, [(1, 11, False)])  # epoch 1's checkpoint never commits

    # fresh process: maintenance compaction must NOT bake epoch 1's delta
    fresh = LsmStateStore(spark, str(tmp_path), compact_every=100)
    assert fresh._load("t")["in_flight_epoch"] == 1
    fresh.compact("t")
    m = fresh._load("t")
    assert [d["epoch"] for d in m["deltas"]] == [1], (
        "in-flight epoch's delta must stay a delta across a process boundary"
    )
    # epoch 0 IS folded into the base
    assert m["base"] is not None

    # the replay-overwrite is still possible: drop + re-merge converges
    replay = LsmStateStore(spark, str(tmp_path), compact_every=100)
    replay.begin_epoch(1)
    replay.drop_epoch_deltas("t", 1)
    _merge(replay, spark, [(1, 11, False)])
    got = {(r.id, r.v) for r in replay.read("t").collect()}
    assert got == {(1, 11), (2, 20)}


def test_seal_clears_marker_and_allows_full_fold(spark, tmp_path):
    w = LsmStateStore(spark, str(tmp_path), compact_every=100)
    w.begin_epoch(0)
    _merge(w, spark, [(1, 10, False)])
    w.begin_epoch(1)
    _merge(w, spark, [(2, 20, False)])
    w.seal("t")
    assert w._load("t")["in_flight_epoch"] is None

    # post-seal compaction (even same instance, which processed epoch 1)
    # folds everything: the checkpoint has committed
    w.compact("t")
    m = w._load("t")
    assert m["deltas"] == [] and m["base"] is not None
    got = {(r.id, r.v) for r in w.read("t").collect()}
    assert got == {(1, 10), (2, 20)}


def test_seal_all_covers_every_merged_table(spark, tmp_path):
    w = LsmStateStore(spark, str(tmp_path), compact_every=100)
    w.begin_epoch(3)
    w.merge("a", _env(spark, [(1, 1, False)]), STRUCT, ["id"])
    w.merge("b", _env(spark, [(2, 2, False)]), STRUCT, ["id"])
    assert w._load("a")["in_flight_epoch"] == 3
    assert w._load("b")["in_flight_epoch"] == 3
    w.seal_all()
    assert w._load("a")["in_flight_epoch"] is None
    assert w._load("b")["in_flight_epoch"] is None
    assert w._epoch is None


def test_next_epoch_supersedes_marker(spark, tmp_path):
    """A newer epoch's merge moves the marker forward — the predecessor's
    delta becomes compactable (its checkpoint committed by the time a
    successor epoch is delivered: foreachBatch is serial)."""
    w = LsmStateStore(spark, str(tmp_path), compact_every=100)
    w.begin_epoch(0)
    _merge(w, spark, [(1, 10, False)])
    w.begin_epoch(1)
    _merge(w, spark, [(2, 20, False)])

    fresh = LsmStateStore(spark, str(tmp_path), compact_every=100)
    fresh.compact("t")
    m = fresh._load("t")
    # epoch 0 folded, epoch 1 (the marker) still a delta
    assert [d["epoch"] for d in m["deltas"]] == [1]
    assert m["base"] is not None
