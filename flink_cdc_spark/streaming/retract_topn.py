"""Per-group Top-N maintained under a CDC changelog — Flink SQL's
retract Top-N (the rank operator the reference's pipelines feed into
Flink SQL; reference semantics: flink's RetractableTopNFunction —
a ranked view stays correct when INSERT/UPDATE/DELETE re-orders rows,
re-emitting only the groups an update touched).

Spark rendition, an ``EpochMachine`` (streaming/epoch.py). Both state planes live in ONE
``LsmStateStore`` table, union-tagged by ``__t`` and hive-partitioned
on it (the machine's proven single-write-job epoch commit, now with
O(delta) volume):

  * plane ``tbl`` = per-key last images — the batch's keys only (live
    images upsert, dead keys tombstone), untouched keys are never
    rewritten;
  * plane ``topn`` = the per-group Top-N view. Per epoch the Top-N is
    recomputed ONLY for groups the batch touched — including the
    BEFORE-image group of every update (a group-moving update must
    repair the group it left, or the view keeps a ghost row) — and the
    recomputed rank rows upsert while every touched group's rank slots
    ABOVE its recomputed count are tombstoned unconditionally (slots
    beyond n never exist in the view, so count+1..n covers every
    vacated slot and a tombstone for a never-filled slot is a no-op
    under merge-on-read). No read of the old view is needed at all.

The two planes share a surrogate key (``__t``, ``__k1``, ``__k2``) —
(plane, key-as-string, 0) for images, (plane, group-as-string, rank)
for view rows — so one pk-unique delta commit carries both and the
epoch write stays a single all-or-nothing Spark job. Per-plane reads
pass ``__t`` as the read predicate: it prunes whole hive partitions at
file listing and, being a pk column, commutes with the merge window.

Per-epoch WRITE cost is proportional to (delta keys + top-n rows of
touched groups), never to the state or the view. The resolved image
plane rides the epoch protocol's carry (streaming/epoch.py), so only
the first epoch of a run resolves it from the store. Money rides as
exact integer cents.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..core.sql_text import quote
from ..sources.envelope import ENVELOPE_OP, ENVELOPE_SEQ, OP_DELETE, first_per_key
from .epoch import EpochMachine


class RetractTopNStream(EpochMachine):
    """Maintains ``SELECT *, row_number() OVER (PARTITION BY group
    ORDER BY value DESC, key ASC) <= n`` over a replayed changelog."""

    _TABLE = "both"
    _PKS = ["__t", "__k1", "__k2"]

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        key: str,
        group: str,
        value: str,
        n: int = 2,
        staged_dir: Optional[str] = None,
        compact_every: int = 8,
    ):
        super().__init__(spark, work_dir, staged_dir, compact_every)
        self.key = key
        self.group = group
        self.value = value
        self.n = n

    def _read_plane(self, plane: str) -> Optional[DataFrame]:
        state = self.state.read(self._TABLE, predicate=f"__t = '{plane}'")
        if state is None:
            return None
        if plane == "tbl":
            return state.select("__pk", self.group, self.key, "value_cents")
        return state.select(self.group, self.key, "value_cents", "rnk")

    # -- the maintenance epoch ------------------------------------------------

    def _merge_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        k, g, v = self.key, self.group, self.value
        with self._epoch(epoch_id):
            pk = F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}"))
            keyed = batch_df.withColumn("__pk", pk)
            delta = self._hold(
                first_per_key(keyed, ["`__pk`"], f"{quote(ENVELOPE_SEQ)} DESC").select(
                    "__pk",
                    (F.col(ENVELOPE_OP) != OP_DELETE).alias("__alive"),
                    F.col(f"after.{g}").alias("__g_new"),
                    # the state plane stores ONLY the ranked attributes —
                    # group, key, exact-cents value — not the full payload:
                    # per-epoch state write volume is O(keys x 3 columns),
                    # not O(keys x table width)
                    F.col(f"after.{k}").alias(k),
                    F.expr(
                        f"CAST(floor(after.{v} * 100 + 0.5) AS BIGINT)"
                    ).alias("value_cents"),
                )
            )
            # touched groups: the group a key lands in AND every group any
            # of the batch's images mention (a group-moving update repairs
            # the group it left; a delete repairs the group it leaves)
            touched = (
                delta.select(F.col("__g_new").alias("__g"))
                .unionByName(
                    batch_df.select(F.col(f"before.{g}").alias("__g"))
                )
                .unionByName(batch_df.select(F.col(f"after.{g}").alias("__g")))
            )
            tbl_old = self._carry
            if tbl_old is None:
                tbl_old = self._read_plane("tbl")
                if tbl_old is not None:
                    # referenced twice below (ghost repair + tbl_new anti):
                    # without the cache the windowed merge-on-read can
                    # execute twice per epoch
                    tbl_old = self._hold(tbl_old)
            if tbl_old is not None:
                # a changelog whose DELETEs carry a NULL before image names
                # no group to repair — the key silently leaves the state
                # plane but its old topn row would survive as a ghost. The
                # plane's own current group for every delta key closes that
                # hole (and subsumes before.g when images are complete);
                # one semi-join against the broadcast delta keyset.
                touched = touched.unionByName(
                    tbl_old.join(
                        F.broadcast(delta.select("__pk")), "__pk", "left_semi"
                    ).select(F.col(g).alias("__g"))
                )
            touched = touched.where(F.col("__g").isNotNull()).distinct()
            pk_t = dict(delta.dtypes)["__pk"]
            # image plane rows: the batch's keys only — live images
            # upsert, dead keys tombstone (a DELETE's after image is
            # already NULL in the delta frame, so the tombstone carries
            # just the pk); untouched keys are never rewritten
            tbl_plane = delta.select(
                F.lit("tbl").alias("__t"),
                F.col("__pk").cast("string").alias("__k1"),
                F.lit(0).cast("bigint").alias("__k2"),
                F.col("__pk"),
                F.col("__g_new").alias(g),
                F.col(k),
                F.col("value_cents"),
                F.lit(None).cast("bigint").alias("rnk"),
                (~F.col("__alive")).alias("__dead"),
            )
            # the top-n recompute consumes the post-commit image state as
            # a PLAN built from frames already in hand — predecessor
            # plane minus the delta's keys plus the live images is
            # exactly what a post-commit merge-on-read would resolve
            # (broadcast anti, no shuffle, no second windowed read)
            live = delta.where(F.col("__alive")).select(
                "__pk", F.col("__g_new").alias(g), k, "value_cents"
            )
            if tbl_old is None:
                tbl_new = live
            else:
                tbl_new = tbl_old.join(
                    F.broadcast(delta.select("__pk")), "__pk", "left_anti"
                ).unionByName(live)
            # lazy cache: the recompute + merge write below fill it — no
            # separate materialization job; it becomes the next carry
            tbl_new = self._hold(tbl_new)
            affected = tbl_new.join(
                F.broadcast(touched), tbl_new[g] == F.col("__g"), "left_semi"
            )
            wv = Window.partitionBy(g).orderBy(
                F.col("value_cents").desc(), F.col(k).asc()
            )
            recomputed = (
                affected.withColumn(
                    "rnk", F.row_number().over(wv).cast("bigint")
                )
                .where(F.col("rnk") <= self.n)
                .select(
                    F.col(g).alias("__rg"),
                    F.col(k),
                    F.col("value_cents"),
                    F.col("rnk").alias("__rrnk"),
                )
            )
            # fused view plane: every touched group owns exactly rank
            # slots 1..n per epoch — slots the recompute filled upsert,
            # the rest tombstone unconditionally (a tombstone for a
            # never-filled slot is a no-op under merge-on-read). The
            # (touched x 1..n) grid left-joined to the recomputed ranks
            # emits BOTH row kinds in one pass, so `recomputed` is
            # consumed once and needs no cache.
            grid = touched.select(
                "__g",
                F.explode(
                    F.sequence(
                        F.lit(1).cast("bigint"), F.lit(self.n).cast("bigint")
                    )
                ).alias("rnk"),
            )
            view_plane = grid.join(
                recomputed,
                (grid["__g"] == recomputed["__rg"])
                & (grid["rnk"] == recomputed["__rrnk"]),
                "left",
            ).select(
                F.lit("topn").alias("__t"),
                F.col("__g").cast("string").alias("__k1"),
                F.col("rnk").alias("__k2"),
                F.lit(None).cast(pk_t).alias("__pk"),
                F.col("__g").alias(g),
                F.col(k),
                F.col("value_cents"),
                F.col("rnk"),
                F.col("__rrnk").isNull().alias("__dead"),
            )
            # ONE pk-unique delta commit carries both planes — a single
            # all-or-nothing write job per epoch, hive-partitioned on the
            # plane tag so per-plane reads prune at file listing
            self._commit(
                tbl_plane.unionByName(view_plane),
                self._PKS,
                partition_keys=["__t"],
            )
            self._next_carry = tbl_new

    def current_topn(self) -> DataFrame:
        view = self._read_plane("topn")
        if view is None:
            raise RuntimeError("no committed topn state")
        return view


def retract_topn_oracle_sql(
    final_state_sql: str, key: str, group: str, value: str, n: int
) -> str:
    """The maintained view must equal a from-scratch Top-N over the
    post-changelog final state."""
    cents = f"CAST(floor({value} * 100 + 0.5) AS BIGINT)"
    return f"""
    WITH fs AS ({final_state_sql}),
    ranked AS (
      SELECT {group}, {key}, {cents} AS value_cents,
             CAST(row_number() OVER (
                    PARTITION BY {group}
                    ORDER BY {cents} DESC, {key} ASC) AS BIGINT) AS rnk
      FROM fs
    )
    SELECT {group}, {key}, value_cents, rnk FROM ranked WHERE rnk <= {n}
    """
