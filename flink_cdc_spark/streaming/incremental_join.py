"""Incrementally-maintained JOIN view over two CDC changelogs —
streaming materialized-view maintenance (the Flink-SQL continuous-join
capability the reference pipeline feeds): a fact⋈dimension equi-join
whose materialization stays correct under INSERT / UPDATE / DELETE on
EITHER side, recomputing only the keys a micro-batch touched.

Per epoch, with left Δ keyed by the left pk and right Δ keyed by the
join key:

    affected(view row) := its left pk ∈ ΔL  OR  its join key ∈ ΔR
    repaired  = (L_new restricted to affected) ⋈ R_new
    view delta = repaired (upserts) ∪ (affected \\ repaired) (tombstones)

Both the state updates and the view repair are keyed to the CHANGED key
sets (broadcast hash semi/anti-joins against per-batch key sets, which
are micro-batch-sized, i.e. corpus-sublinear) — the unaffected bulk of
the view is never touched, read, or rewritten.

State lives in the repo's own ``LsmStateStore`` (r16, VERDICT r15
item 2 — this was the last epoch-state machine on the O(state)-per-epoch
full-parquet-rewrite pattern). Both planes share ONE union-tagged table
(the retract_topn convention), hive-partitioned on the plane tag:

  * plane ``lr`` = the folded left+right per-key last images, keyed
    (side, pk) — the batch's keys only: live images upsert, dead keys
    tombstone, untouched keys stay in their original commits;
  * plane ``view`` = the maintained join view keyed by the left pk —
    repaired rows upsert, affected-but-no-longer-matching left pks
    tombstone (covers left deletes, re-pointed FKs that lost their
    match, and right-side deletes killing every referencing row).

The two planes share a surrogate key (``__t``, ``__k1``, ``__k2``) —
(plane, pk-as-string, side) for images, (plane, left-pk-as-string, 2)
for view rows — so one pk-unique delta commit carries both planes and
the epoch write stays a single all-or-nothing Spark job. Per-epoch
WRITE volume is O(delta keys + affected view rows), never O(state).

Per-epoch READ: the resolved image plane rides the epoch protocol's
carry (streaming/epoch.py), so only the FIRST epoch of a process
attaches via one merge-on-read scan. Money columns ride as-is in the
harmonized payload (the oracle compares post-join images, not sums).

Scale: the per-epoch path never reads the store after the attach (the
carry serves it), and the plane tag already partitions the two read
patterns that exist (attach, final view read).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.sql_text import quote
from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    first_per_key,
)
from .epoch import EpochMachine


def two_sided_delta(
    env: DataFrame,
    left_table_id: str,
    pk_left: str,
    pk_right: str,
) -> DataFrame:
    """Per-key last image of one interleaved batch, BOTH sides in one
    shuffle: (__left, __pk, __alive, after). Requires the harmonized
    superset payload (harmonize_envelope) and pks of a comparable type.
    __alive=false is a tombstone (the key was deleted)."""
    is_left = F.col(ENVELOPE_TABLE_ID) == left_table_id
    pk_col = F.when(
        is_left,
        F.coalesce(F.col(f"after.{pk_left}"), F.col(f"before.{pk_left}")),
    ).otherwise(
        F.coalesce(F.col(f"after.{pk_right}"), F.col(f"before.{pk_right}")),
    )
    keyed = env.select("*", is_left.alias("__left"), pk_col.alias("__pk"))
    return first_per_key(keyed, ["`__left`", "`__pk`"], f"{quote(ENVELOPE_SEQ)} DESC").select(
        "__left", "__pk", (F.col(ENVELOPE_OP) != OP_DELETE).alias("__alive"), "after"
    )


class IncrementalJoinView(EpochMachine):
    """Maintains `left ⋈ right ON left.join_key = right.pk_right`
    incrementally from a single interleaved changelog stream carrying
    both tables (split per epoch by __table_id)."""

    _TABLE = "both"
    _PKS = ["__t", "__k1", "__k2"]

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        left_table_id: str,
        right_table_id: str,
        pk_left: str,
        join_key: str,
        pk_right: str,
        left_cols,
        right_cols,
        staged_dir: Optional[str] = None,
        compact_every: int = 8,
    ):
        super().__init__(spark, work_dir, staged_dir, compact_every)
        self.left_table_id = left_table_id
        self.right_table_id = right_table_id
        self.pk_left = pk_left
        self.join_key = join_key
        self.pk_right = pk_right
        self.left_cols = list(left_cols)
        self.right_cols = list(right_cols)

    def _view_cols(self):
        return self.left_cols + [
            c for c in self.right_cols if c != self.pk_right
        ]

    def _read_plane(self, plane: str) -> Optional[DataFrame]:
        state = self.state.read(self._TABLE, predicate=f"__t = '{plane}'")
        if state is None:
            return None
        if plane == "lr":
            payload = [
                c for c in state.columns
                if c not in ("__t", "__k1", "__k2", "__left", "__pk")
            ]
            return state.select("__left", "__pk", *payload)
        return state.select(*self._view_cols())

    # -- the maintenance epoch ----------------------------------------------

    def _merge_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One epoch = ONE union-tagged LSM delta commit carrying both the
        image-plane delta and the view repair — a single all-or-nothing
        Spark write job, O(delta) volume."""
        with self._epoch(epoch_id):
            # consumed ~6x below (live, keys anti/semi, plane rows)
            delta = self._hold(two_sided_delta(
                batch_df, self.left_table_id, self.pk_left, self.pk_right
            ))
            superset = [f.name for f in batch_df.schema["after"].dataType.fields]
            sup_types = {
                f.name: f.dataType
                for f in batch_df.schema["after"].dataType.fields
            }
            live = delta.where(F.col("__alive")).select(
                "__left", "__pk", *[F.col(f"after.{c}").alias(c) for c in superset]
            )
            lr_old = self._carry
            if lr_old is None:
                lr_old = self._read_plane("lr")
                if lr_old is not None:
                    lr_old = self._hold(lr_old)
            changed = delta.select("__left", "__pk")
            if lr_old is None:
                lr_new = live
            else:
                lr_new = lr_old.join(
                    F.broadcast(changed), ["__left", "__pk"], "left_anti"
                ).unionByName(live)
            # lazy cache: the merge write job below scans l_new/r_new and
            # fills it — no separate materialization job; it becomes the
            # next carry
            lr_new = self._hold(lr_new)
            l_new = lr_new.where(F.col("__left")).select(*self.left_cols)
            r_new = lr_new.where(~F.col("__left")).select(*self.right_cols)

            changed_l = delta.where(F.col("__left")).select(
                F.col("__pk").alias(self.pk_left)
            )
            changed_r = delta.where(~F.col("__left")).select(
                F.col("__pk").alias("__jk")
            )
            # left rows needing (re)join: their pk changed, or their join
            # key points at a changed right key — delta-sized by
            # construction. Two broadcast LEFT joins + a flag filter
            # instead of semi-join/union/dropDuplicates: both key sets
            # are pk-unique (two_sided_delta keeps row_number()==1 per
            # (__left, __pk)), so the left joins preserve multiplicity
            # and the OR-filter replaces the dedup — one Exchange fewer
            # inside the per-epoch commit job (r16 opt round).
            repair_l = (
                l_new.join(
                    F.broadcast(
                        changed_l.withColumn("__hit_l", F.lit(True))
                    ),
                    self.pk_left,
                    "left",
                )
                .join(
                    F.broadcast(
                        changed_r.withColumn("__hit_r", F.lit(True))
                    ),
                    F.col(self.join_key) == F.col("__jk"),
                    "left",
                )
                .where(
                    F.coalesce(F.col("__hit_l"), F.lit(False))
                    | F.coalesce(F.col("__hit_r"), F.lit(False))
                )
                .select(*self.left_cols)
            )
            # ONE left-outer join decides every affected row's fate —
            # matched rows upsert, unmatched tombstone (re-pointed FKs
            # that lost their match, right-side deletes killing every
            # referencing row); left DELETES tombstone straight from the
            # delta (a dead key is not in l_new, hence not in repair_l —
            # the two tombstone sets are disjoint by construction, so no
            # distinct/anti shuffle is needed). Aliased sides: when the
            # left's join-key column NAME equals the right's pk name
            # (the common FK==PK-name CDC layout), a bare F.col is
            # AMBIGUOUS_REFERENCE — caught by the r10 randomized
            # streaming differential.
            # consumed ONCE by the fused view plane below — no cache needed
            joined = repair_l.alias("__l").join(
                r_new.alias("__r"),
                F.col(f"__l.{self.join_key}") == F.col(f"__r.{self.pk_right}"),
                "left",
            )
            matched = F.col(f"__r.{self.pk_right}").isNotNull()

            pk_t = dict(delta.dtypes)["__pk"]

            def _view_val(c):
                """The fused upsert/tombstone payload (r17, VERDICT r16
                item 2): matched rows carry the joined view image
                (upsert), unmatched rows carry only the left pk (the
                tombstone padding the old dead_plane produced) — one
                conditional projection instead of two scans of `joined`
                unioned, which doubled the repair join's subtree in every
                per-epoch commit plan and forced a cache on it."""
                if c == self.pk_left:
                    return F.col(f"__l.{c}")
                if c in self.left_cols:
                    src = F.col(f"__l.{c}")
                elif c in self.right_cols and c != self.pk_right:
                    src = F.col(f"__r.{c}")
                else:
                    return F.lit(None).cast(sup_types[c])
                return F.when(matched, src)

            tbl_plane = delta.select(
                F.lit("lr").alias("__t"),
                F.col("__pk").cast("string").alias("__k1"),
                F.when(F.col("__left"), F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("__k2"),
                F.col("__left"),
                F.col("__pk"),
                *[F.col(f"after.{c}").alias(c) for c in superset],
                (~F.col("__alive")).alias("__dead"),
            )
            # matched -> view upsert (the old up_plane); unmatched ->
            # pk-only tombstone (the old dead_plane's joined arm):
            # re-pointed FKs that lost their match and right-side deletes
            # killing every referencing row
            view_plane = joined.select(
                F.lit("view").alias("__t"),
                F.col(f"__l.{self.pk_left}").cast("string").alias("__k1"),
                F.lit(2).cast("bigint").alias("__k2"),
                F.lit(None).cast("boolean").alias("__left"),
                F.lit(None).cast(pk_t).alias("__pk"),
                *[_view_val(c).alias(c) for c in superset],
                (~matched).alias("__dead"),
            )
            # left DELETES tombstone straight from the delta (a dead key
            # is not in l_new, hence not in repair_l — disjoint from the
            # view plane's rows by construction)
            del_plane = delta.where(
                F.col("__left") & ~F.col("__alive")
            ).select(
                F.lit("view").alias("__t"),
                F.col("__pk").cast("string").alias("__k1"),
                F.lit(2).cast("bigint").alias("__k2"),
                F.lit(None).cast("boolean").alias("__left"),
                F.lit(None).cast(pk_t).alias("__pk"),
                *[
                    (
                        F.col("__pk").cast(sup_types[c])
                        if c == self.pk_left
                        else F.lit(None).cast(sup_types[c])
                    ).alias(c)
                    for c in superset
                ],
                F.lit(True).alias("__dead"),
            )
            # ONE pk-unique delta commit carries both planes,
            # hive-partitioned on the plane tag so per-plane reads prune
            # at file listing
            self._commit(
                tbl_plane.unionByName(view_plane).unionByName(del_plane),
                self._PKS,
                partition_keys=["__t"],
            )
            self._next_carry = lr_new

    def current_view(self) -> DataFrame:
        view = self._read_plane("view")
        if view is None:
            raise RuntimeError("no committed view state")
        return view


def harmonize_envelope(env: DataFrame, superset) -> DataFrame:
    """Rebuild before/after as the SUPERSET payload struct (missing
    columns null) so changelogs of different tables can ride one file
    stream — the parquet analog of a schema-per-table wire topic.
    superset: ordered (name, sql_type) pairs."""
    from ..sources.envelope import ENVELOPE_META, ENVELOPE_SEQ, payload_struct

    have = {f.name for f in payload_struct(env).fields}

    def conv(side: str):
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                *[
                    (
                        F.col(f"{side}.{c}") if c in have else F.lit(None)
                    ).cast(t).alias(c)
                    for c, t in superset
                ]
            ),
        )

    return env.select(
        ENVELOPE_TABLE_ID,
        ENVELOPE_OP,
        conv("before").alias("before"),
        conv("after").alias("after"),
        ENVELOPE_META,
        ENVELOPE_SEQ,
    )
