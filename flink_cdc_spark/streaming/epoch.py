"""The epoch protocol of the carry machines.

``retract_agg``, ``retract_topn``, ``incremental_join`` and
``temporal_join_stream`` each fold a staged CDC changelog into state
kept in ONE ``LsmStateStore`` table, one Structured Streaming
micro-batch (epoch) at a time. They share one exactly-once protocol,
the idempotent ``foreachBatch`` contract: a crashed epoch re-delivers
under the SAME epoch id, so an epoch whose commit replaces any earlier
attempt of itself is applied exactly once. ``EpochMachine`` owns that
protocol; each machine supplies only its fold and commit frame
(``_merge_epoch``, wrapped in ``with self._epoch(epoch_id):``).

Staging. ``stage`` writes the changelog as single-file parquet batches
``active/b<n>.parquet``, one per value of a ``__b`` column, then the
``_STAGED`` marker. Without a caller-supplied ``__b`` the split is all
inserts, then updates, then deletes, so retractions always target rows
accumulated in EARLIER epochs. Three epochs, because per-epoch cost is
dominated by the fixed state write regardless of batch size.

Running. ``run`` reads the batches as a file stream, one file per
trigger so the epochs keep the staged order, drains it with
``availableNow`` under a small shuffle width (the per-epoch relations
are tiny), and seals the table once the checkpoint has committed.
Sealing stays off the failure path: a failed run's last epoch can still
replay, and a sealed table would let a maintenance compaction bake that
epoch's delta into the base.

One epoch:

  1. ``begin_epoch`` announces it, and ``drop_epoch_deltas``
     unreferences any delta a crashed attempt of it left behind, so the
     fold reads the state exactly as of the committed predecessor and
     the re-commit OVERWRITES the crashed attempt;
  2. the machine folds the batch and writes ONE delta commit
     (``_commit``): O(batch), never O(state);
  3. the post-commit state plane the fold built (``_next_carry``)
     becomes the next epoch's carry.

The carry. A machine whose fold reads its own state plane keeps the
resolved plane in memory across the epochs of one run instead of
re-resolving it from the store (a multi-commit merge-on-read scan plus
a pk-window exchange) every epoch. It is trusted only for epochs
strictly after the one that built it: a replayed epoch drops it and
reads the store. An epoch that commits without adopting a new plane
drops it too, since the store has moved past it. Between anchors the
carry is a filled cache; every ``_CKPT_EVERY``-th epoch re-anchors it in
a ``localCheckpoint`` so plans don't chain across epochs. A carry
evicted between anchors recomputes from its lineage: the staged batch
files and the commit files it was built from, which neither compaction
nor a later commit deletes (``drop_epoch_deltas`` deletes only deltas
of the replayed epoch and later, which no trusted carry reads);
``tests/test_carry_block_loss.py`` pins that.

Ownership. Every per-epoch cache goes through ``_hold``. The epoch
releases all held frames in one ``finally``, except the one it adopted
as the carry, and ``run`` releases the carry and the state-store
providers even when the query fails.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.lsm_store import LsmStateStore
from ..sources.envelope import (
    ENVELOPE_OP,
    OP_INSERT,
    OP_UPDATE,
    wrap_as_inserts,
    wrap_as_upsert_deletes,
)
from .windowed import (
    STATE_PARTITIONS,
    scoped_shuffle_partitions,
    unload_state_store_providers,
)

N_REPLAY_BATCHES = 4


def stage_replay_batches(
    env_with_b: DataFrame, active: str, n_batches: int = N_REPLAY_BATCHES
) -> None:
    """ONE pass over the changelog: hash-repartition on __b then
    partitionBy-write — each batch value lives in exactly one task, so
    each __b= dir gets exactly one file (a replay batch must be one file
    for maxFilesPerTrigger=1 micro-batch ordering). mtimes forced
    increasing so the file source delivers batches in order."""
    staged = os.path.join(active, "_staged")
    env_with_b.repartition(n_batches, "__b").write.mode(
        "overwrite"
    ).partitionBy("__b").parquet(staged)
    now = time.time()
    for b in range(n_batches):
        d = os.path.join(staged, f"__b={b}")
        if not os.path.isdir(d):
            continue
        files = [fn for fn in os.listdir(d) if fn.endswith(".parquet")]
        assert len(files) == 1, f"replay batch {b} must be one file: {files}"
        dst = os.path.join(active, f"b{b}.parquet")
        shutil.move(os.path.join(d, files[0]), dst)
        os.utime(dst, (now + b, now + b))
    shutil.rmtree(staged)
    with open(os.path.join(active, "_STAGED"), "w") as f:
        f.write("ok")  # marker: a partially-moved dir never passes staged()


def staged_schema(spark, active: str):
    """Replay schema of a pre-staged directory, read from the FIRST
    existing b*.parquet: stage_replay_batches skips absent batch values,
    so a changelog with (say) no inserts legitimately stages without
    b0.parquet."""
    batches = sorted(
        fn for fn in os.listdir(active)
        if fn.startswith("b") and fn.endswith(".parquet")
    )
    if not batches:
        raise FileNotFoundError(f"no staged b*.parquet batches in {active}")
    return spark.read.parquet(os.path.join(active, batches[0])).schema


class EpochMachine:
    """Base of the carry machines: staging, the streaming run loop, and
    the per-epoch replay, commit, carry and ownership protocol (see the
    module docstring). Subclasses set ``_TABLE`` and define
    ``_merge_epoch``."""

    _TABLE: str
    _CKPT_EVERY = 4
    n_batches = N_REPLAY_BATCHES

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        staged_dir: Optional[str] = None,
        compact_every: int = 8,
    ):
        """staged_dir: reuse an already-staged batch directory (staging is
        deterministic per input, so bench re-runs share it; checkpoint and
        state stay per-run under work_dir)."""
        self.spark = spark
        self.active = staged_dir or os.path.join(work_dir, "active")
        self.ckpt = os.path.join(work_dir, "ckpt")
        self.state_dir = os.path.join(work_dir, "state")
        os.makedirs(self.active, exist_ok=True)
        os.makedirs(self.state_dir, exist_ok=True)
        self.state = LsmStateStore(spark, self.state_dir, compact_every=compact_every)
        self._schema = None
        self._carry: Optional[DataFrame] = None
        self._carry_epoch = None
        self._held: list = []
        self._next_carry: Optional[DataFrame] = None
        self._moved = False

    # -- staging -------------------------------------------------------------

    def stage(self, env: DataFrame) -> None:
        """Write ``env`` as the replay batches, split by its ``__b``
        column or, without one, inserts / updates / deletes."""
        if "__b" not in env.columns:
            env = env.withColumn(
                "__b",
                F.when(F.col(ENVELOPE_OP) == OP_INSERT, F.lit(0))
                .when(F.col(ENVELOPE_OP) == OP_UPDATE, F.lit(1))
                .otherwise(F.lit(2)),
            )
        self._schema = env.drop("__b").schema
        stage_replay_batches(env, self.active, self.n_batches)

    def staged(self) -> bool:
        return os.path.exists(os.path.join(self.active, "_STAGED"))

    def _committed_epochs(self):
        """Epochs with a live delta commit in the table's manifest
        (compaction folds older epochs' deltas into the base, so this is
        the uncompacted tail)."""
        m = self.state._load(self._TABLE)
        if m is None:
            return []
        return sorted({d["epoch"] for d in m["deltas"] if "epoch" in d})

    # -- one epoch -------------------------------------------------------------

    @contextlib.contextmanager
    def _epoch(self, epoch_id: int):
        """Replay-overwrite and the carry guard on entry; on success the
        body's ``_next_carry`` becomes the carry; held frames are
        released either way."""
        self.state.begin_epoch(epoch_id)
        self.state.drop_epoch_deltas(self._TABLE, epoch_id)
        if self._carry_epoch is not None and self._carry_epoch >= epoch_id:
            self._drop_carry()
        self._held, self._next_carry, self._moved = [], None, False
        try:
            yield
            if self._next_carry is not None:
                self._adopt(self._next_carry, epoch_id)
        finally:
            if self._moved and self._carry_epoch != epoch_id:
                self._drop_carry()
            for df in self._held:
                if df is not self._carry:
                    df.unpersist()
            self._held, self._next_carry = [], None

    def _hold(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` for the rest of this epoch (lazily: the first job
        that reads it fills it)."""
        df = df.cache()
        self._held.append(df)
        return df

    def _commit(self, frame: DataFrame, primary_keys, partition_keys=()) -> None:
        """The epoch's ONE pk-unique delta commit. Rows whose ``__dead``
        column is true tombstone, the rest upsert; without ``__dead``
        every row upserts."""
        if "__dead" in frame.columns:
            env = wrap_as_upsert_deletes(frame, self._TABLE, "__dead")
            payload = frame.drop("__dead").schema
        else:
            env, payload = wrap_as_inserts(frame, self._TABLE), frame.schema
        self.state.merge(self._TABLE, env, payload, primary_keys, partition_keys)
        self._moved = True

    def _adopt(self, frame: DataFrame, epoch_id: int) -> None:
        prev = self._carry
        if epoch_id % self._CKPT_EVERY == self._CKPT_EVERY - 1:
            self._carry = frame.localCheckpoint(eager=True)
        else:
            self._carry = frame
        self._carry_epoch = epoch_id
        if prev is not None:
            prev.unpersist()

    def _drop_carry(self) -> None:
        if self._carry is not None:
            self._carry.unpersist()
        self._carry = self._carry_epoch = None

    # -- the streaming query -----------------------------------------------------

    def run(self) -> None:
        if self._schema is None:  # attached to a pre-staged directory
            self._schema = staged_schema(self.spark, self.active)
        stream = (
            self.spark.readStream.schema(self._schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.active)
        )
        try:
            with scoped_shuffle_partitions(self.spark, STATE_PARTITIONS):
                q = (
                    stream.writeStream.outputMode("update")
                    .foreachBatch(lambda df, eid: self._merge_epoch(df, eid))
                    .option("checkpointLocation", self.ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(300)
            self.state.seal(self._TABLE)
        finally:
            self._drop_carry()
            unload_state_store_providers(self.spark)
