"""Incremental (retract-stream) aggregate maintenance over a CDC changelog.

The Flink-SQL capability the reference pipeline feeds but does not itself
provide: a continuously-maintained GROUP BY aggregate that stays correct
under INSERT / UPDATE / DELETE — updates RETRACT their before-image
contribution (including moving a row between groups when the group column
itself changes) and add the after-image; deletes retract; groups whose
row count reaches zero disappear. This is the accumulate/retract protocol
of Flink's AggregateFunction (public semantics), expressed Spark-first:
each change event becomes at most two (group, delta) contribution rows,
micro-batch deltas are map-side-combined, and the running state is an
LSM table keyed by group that each epoch extends with one
touched-groups-only delta commit.

Scale shape: the per-batch work is one hash aggregation over the batch's
contribution rows (map-side combined, shuffle keyed on the group) plus a
full-outer merge against the TOUCHED groups' prior state (broadcast
semi-join on the batch's group set — batch-bounded). State lives in the
repo's own ``LsmStateStore`` as delta commits keyed by group: per epoch
the merge commits ONLY the touched groups' new (n_rows, sum_cents)
images, with a DELETE tombstone for any group whose row count reached
zero; untouched groups are never rewritten. The epoch protocol
(staging, replay-overwrite, the streaming run) is ``EpochMachine``'s
(streaming/epoch.py).

Determinism: money sums use the exact-cents idiom (floor(x*100 + 0.5) as
BIGINT — the tpch_q1 discipline): every delta and every running sum is an
integer, immune to engine/partial-aggregation order.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.envelope import (
    ENVELOPE_OP,
    OP_DELETE,
    OP_INSERT,
    OP_REPLACE,
    OP_UPDATE,
)
from .epoch import EpochMachine, stage_replay_batches  # noqa: F401  (re-exported)


def _cents(col: F.Column) -> F.Column:
    return F.floor(col * 100 + F.lit(0.5)).cast("bigint")


def contribution_deltas(env: DataFrame, group: str, value: str) -> DataFrame:
    """Envelope rows -> per-group (d_cents, dn) deltas for this batch.

    after images accumulate (+value, +1) for INSERT/UPDATE/REPLACE;
    before images retract (-value, -1) for UPDATE/DELETE — a group-moving
    UPDATE therefore contributes to BOTH groups. REPLACE is accumulated
    only (its retraction needs per-key state; the sources in this repo
    emit REPLACE only for key-complete upsert sinks, not here)."""
    after_side = env.where(
        F.col(ENVELOPE_OP).isin(OP_INSERT, OP_UPDATE, OP_REPLACE)
    ).select(
        F.col(f"after.{group}").alias("grp"),
        _cents(F.col(f"after.{value}")).alias("d_cents"),
        F.lit(1).cast("bigint").alias("dn"),
    )
    before_side = env.where(
        F.col(ENVELOPE_OP).isin(OP_UPDATE, OP_DELETE)
    ).select(
        F.col(f"before.{group}").alias("grp"),
        (-_cents(F.col(f"before.{value}"))).alias("d_cents"),
        F.lit(-1).cast("bigint").alias("dn"),
    )
    return (
        after_side.unionByName(before_side)
        .groupBy("grp")
        .agg(
            F.sum("d_cents").alias("d_cents"),
            F.sum("dn").alias("dn"),
        )
    )


def merge_state_unfiltered(
    prev: Optional[DataFrame], deltas: DataFrame
) -> DataFrame:
    """Combine the (touched-group) running state with one batch's
    deltas, KEEPING groups whose row count reached zero — the LSM epoch
    commit turns those into DELETE tombstones.

    Formulated as union + group-sum, not a full-outer join: a full
    outer cannot broadcast, so Spark planned it as a SortMergeJoin —
    two Exchanges plus two sorts inside every epoch's commit job — for
    what is associative integer addition. One map-side-combined hash
    aggregate computes the identical result (the per-row coalesce
    reproduces the old NULL-as-zero join arithmetic exactly)."""
    if prev is None:
        return deltas.select(
            "grp",
            F.col("dn").alias("n_rows"),
            F.col("d_cents").alias("sum_cents"),
        )
    contrib = prev.select(
        "grp",
        F.coalesce(F.col("n_rows"), F.lit(0)).alias("dn"),
        F.coalesce(F.col("sum_cents"), F.lit(0)).alias("d_cents"),
    )
    return (
        contrib.unionByName(
            deltas.select(
                "grp",
                F.coalesce(F.col("dn"), F.lit(0)).alias("dn"),
                F.coalesce(F.col("d_cents"), F.lit(0)).alias("d_cents"),
            )
        )
        .groupBy("grp")
        .agg(
            F.sum("dn").alias("n_rows"),
            F.sum("d_cents").alias("sum_cents"),
        )
    )


def merge_state(prev: Optional[DataFrame], deltas: DataFrame) -> DataFrame:
    """Full-outer combine of the running state with one batch's deltas;
    groups whose row count reaches zero are retracted away entirely."""
    return merge_state_unfiltered(prev, deltas).where(F.col("n_rows") != 0)


class RetractAggregateStream(EpochMachine):
    """Maintains the aggregate state epoch by epoch over a staged
    changelog. Each epoch reads the whole state with one merge-on-read
    and bounds the fold to the batch's groups with a broadcast
    semi-join. Small epochs are paced by fixed per-job cost, so this
    beats pruning the read to the touched groups' hash partitions of
    the state, which needs a probe job per epoch and lost every
    measurement."""

    # _AGG: the name perfbench/workloads.py reads the state table by
    _AGG = _TABLE = "agg"

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        group: str,
        value: str,
        staged_dir: Optional[str] = None,
        compact_every: int = 8,
    ):
        super().__init__(spark, work_dir, staged_dir, compact_every)
        self.group = group
        self.value = value

    def _merge_epoch(self, batch_df, epoch_id) -> None:
        with self._epoch(epoch_id):
            # used twice (the semi-join's broadcast keys and the merge);
            # recomputing this small batch aggregate is cheaper than a
            # cache, which cost one more job per epoch and 2.5x the tasks
            deltas = contribution_deltas(batch_df, self.group, self.value)
            # the fold READS only the touched groups' state (the semi-join
            # bounds the merge work to the batch's group set)
            prev = self.state.read(self._TABLE)
            if prev is not None:
                prev = prev.join(
                    F.broadcast(deltas.select("grp")), "grp", "left_semi"
                )
            merged = merge_state_unfiltered(prev, deltas)
            # upserts for live groups, DELETE tombstones for groups whose
            # row count reached zero — untouched groups are never rewritten
            self._commit(
                merged.withColumn("__dead", F.col("n_rows") == 0),
                ["grp"],
            )

    def current_state(self) -> DataFrame:
        state = self.state.read(self._TABLE)
        if state is None:
            return self.spark.createDataFrame(
                [], "grp string, n_rows bigint, sum_cents bigint"
            )
        return state


def retract_aggregate_oracle_sql(
    final_state_sql: str, group: str, value: str
) -> str:
    """The incremental invariant: maintained state == recompute from the
    post-changelog final state (exact-cents money discipline)."""
    return f"""
    WITH final AS ({final_state_sql})
    SELECT {group} AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor({value} * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM final GROUP BY {group}
    """
