"""Streaming temporal-table join — `FOR SYSTEM_TIME AS OF` maintained
per micro-batch against a changelog-fed SCD2 dimension.

This is the reference's actual RUNTIME shape for temporal joins: Flink
SQL joins a probe stream against a versioned table that CDC maintains
continuously (docs/content/docs/core-concept/transform.md delegates the
temporal join to Flink SQL; the versioned-table contract is what
FlinkPipelineComposer's sink side feeds). The batch operator
(`operators/temporal_join.py`) consumes a FINISHED history; this module
maintains the history incrementally from the dimension's changelog and
enriches each epoch's probes against the versions known at that epoch —
dimension versions move BETWEEN epochs, and a probe in epoch N sees the
version valid at its event time, including versions created earlier in
the same run.

One interleaved envelope stream carries both tables (harmonized superset
payload, split per epoch by `__table_id` — the incremental_join
convention). Per epoch:

  1. **Fold the dimension delta into the SCD2 history state,
     delta-keyed**: keys untouched by the batch carry forward via ONE
     broadcast anti-join against the batch's key set (micro-batch-sized
     by construction); for touched keys, closed versions carry as-is,
     the open version closes at the key's first new event, and the
     batch's own events become new versions with per-key ordinals
     continuing the key's event count — so the maintained history is
     row-identical to `operators/scd2.scd2_history` over the full
     changelog (the differential pins this).
  2. **Enrich the epoch's probes** with the batch temporal-join
     operator against the history RESTRICTED to the probe batch's key
     set (broadcast semi-join) — per-epoch join cost is proportional to
     (probed keys' versions + probes), never O(history).

History state lives in the repo's own ``LsmStateStore`` as delta
commits keyed ``(dim_key, valid_from_ver)``: per epoch the fold emits
ONLY the delta — the batch's new version rows plus one close-update per
touched open version — and untouched keys are never rewritten; reads
are merge-on-read (window by pk over base ∪ deltas) with compaction
amortizing the delta count. The epoch protocol (staging,
replay-overwrite, the carried history, the streaming run) is
``EpochMachine``'s (streaming/epoch.py); enriched probes land in an
epoch-keyed output dir, so a replayed epoch overwrites its own output.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.temporal_join import temporal_join
from ..sources.envelope import (
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    first_per_key,
)
from .epoch import EpochMachine

N_TEMPORAL_BATCHES = 3


class StreamingTemporalJoin(EpochMachine):
    """Maintains the SCD2 history of `dim_table_id` from its changelog
    and temporal-joins `probe_table_id` rows (INSERT-only probes) against
    it, epoch by epoch. An epoch that enriches probes carries its
    post-commit history to the next epoch; without a carry, the fold and
    the enrichment each read the store with one full merge-on-read,
    bounded to the batch's keys by a broadcast semi-join."""

    _TABLE = "hist"

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        dim_table_id: str,
        probe_table_id: str,
        dim_key: str,
        payload_cols: Sequence[str],
        probe_key: str,
        probe_ts: str,
        probe_cols: Sequence[str],
        ts_expr: str = "CAST(__meta['op_ts'] AS TIMESTAMP)",
        staged_dir: Optional[str] = None,
        n_batches: int = N_TEMPORAL_BATCHES,
        compact_every: int = 8,
    ):
        """Staging takes the caller's `__b` epoch column (probes are
        INSERT envelope rows of the probe table) over ``n_batches``
        epochs."""
        super().__init__(spark, work_dir, staged_dir, compact_every)
        self.dim_table_id = dim_table_id
        self.probe_table_id = probe_table_id
        self.dim_key = dim_key
        self.payload_cols = list(payload_cols)
        self.probe_key = probe_key
        self.probe_ts = probe_ts
        self.probe_cols = list(probe_cols)
        self.ts_expr = ts_expr
        self.n_batches = n_batches
        self.out_dir = os.path.join(work_dir, "out")
        os.makedirs(self.out_dir, exist_ok=True)

    # -- the maintenance epoch -------------------------------------------------

    def _fold_history(self, dim_env: DataFrame, epoch_id: int) -> None:
        """Delta-keyed SCD2 fold, O(batch) write: untouched keys are NOT
        rewritten (they simply stay in their original commits); touched
        keys contribute one close-UPDATE for their open version (closed
        at the key's first new event) and the batch's events become new
        versions whose per-key ordinals continue the key's event count
        (recovered from max(coalesce(valid_to_ver, valid_from_ver)) over
        the touched keys' versions — a deleted key's last close IS its
        delete's ordinal)."""
        k = self.dim_key
        pk_col = F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}"))
        events = dim_env.select(
            pk_col.alias(k),
            F.col(ENVELOPE_SEQ).alias("__seq"),
            (F.col(ENVELOPE_OP) != OP_DELETE).alias("__alive"),
            *[F.col(f"after.{c}").alias(c) for c in self.payload_cols],
            F.expr(self.ts_expr).alias("__ts"),
        )
        w = Window.partitionBy(k).orderBy(F.col("__seq").asc())
        firsts = first_per_key(events, [k], F.col("__seq").asc()).select(
            k, F.col("__ts").alias("__first_ts")
        )

        keys = events.select(k).distinct()
        # the fold only ever reads the touched keys' versions; the carry
        # (when valid) serves that read in-memory, and otherwise the
        # store resolves it with one merge-on-read
        hist_old = self._carry
        if hist_old is None:
            hist_old = self.state.read(self._TABLE)
            if hist_old is not None:
                # referenced twice per epoch (fold semi-join + the
                # post-commit image's anti-join): without the cache the
                # windowed merge-on-read can execute twice
                hist_old = self._hold(hist_old)
        if hist_old is not None:
            # the fold only ever READS the touched keys' versions — the
            # semi-join bounds the work to the batch's key set
            touched = hist_old.join(F.broadcast(keys), k, "left_semi")
            base = touched.groupBy(k).agg(
                F.max(
                    F.coalesce(F.col("valid_to_ver"), F.col("valid_from_ver"))
                ).alias("__base")
            )
            closes = (
                touched.where(F.col("valid_to_ver").isNull())
                .join(F.broadcast(firsts), k)
                .withColumn("valid_to_ver", F.col("valid_from_ver") + F.lit(1))
                .withColumn("valid_to_ts", F.col("__first_ts"))
                .withColumn("is_current", F.lit(False))
                .drop("__first_ts")
            )
        else:
            closes, base = None, None

        versioned = events.withColumn(
            "__ord", F.row_number().over(w).cast("bigint")
        )
        if base is not None:
            versioned = versioned.join(F.broadcast(base), k, "left").withColumn(
                "__ord", F.col("__ord") + F.coalesce(F.col("__base"), F.lit(0))
            ).drop("__base")
        versioned = (
            versioned.withColumn("valid_from_ver", F.col("__ord"))
            .withColumn(
                "valid_to_ver",
                F.when(
                    F.lead("__seq").over(w).isNotNull(),
                    F.col("valid_from_ver") + F.lit(1),
                ).cast("bigint"),
            )
            .withColumn("valid_from_ts", F.col("__ts"))
            .withColumn("valid_to_ts", F.lead("__ts").over(w))
        )
        new_rows = versioned.where(F.col("__alive")).select(
            k,
            *self.payload_cols,
            "valid_from_ver",
            "valid_to_ver",
            "valid_from_ts",
            "valid_to_ts",
            F.col("valid_to_ver").isNull().alias("is_current"),
        )
        delta = new_rows if closes is None else closes.unionByName(new_rows)
        # the commit write job fills the cache; the post-commit image
        # reuses it
        delta = self._hold(delta.select(
            k,
            *self.payload_cols,
            "valid_from_ver",
            "valid_to_ver",
            "valid_from_ts",
            "valid_to_ts",
            "is_current",
        ))
        # pk-unique: a close rewrites a version whose ordinal is <= the
        # key's pre-batch base, new rows carry ordinals strictly above it
        # — no (key, valid_from_ver) repeats within one fold's delta. The
        # LSM merge is O(batch): merge-on-read resolves a close over the
        # original open row (later commit wins on the same pk).
        self._commit(delta, [k, "valid_from_ver"])
        # post-commit history as a PLAN built from frames already in
        # hand — predecessor minus the delta's pks plus the delta is
        # exactly what a post-commit merge-on-read would resolve
        # (broadcast anti, no disk scan, no pk-window Exchange); its
        # cache fills during the enrichment write
        self._next_carry = delta if hist_old is None else self._hold(
            hist_old.join(
                F.broadcast(delta.select(k, "valid_from_ver")),
                [k, "valid_from_ver"],
                "left_anti",
            ).unionByName(delta)
        )

    def _merge_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        with self._epoch(epoch_id):
            # ONE metadata job decides which planes the batch carries (a
            # limit(1).count() per plane costs an extra Spark job per
            # epoch)
            present = {
                r[0]
                for r in batch_df.select(ENVELOPE_TABLE_ID).distinct().collect()
            }
            if self.dim_table_id in present:
                self._fold_history(
                    batch_df.where(F.col(ENVELOPE_TABLE_ID) == self.dim_table_id),
                    epoch_id,
                )
            if self.probe_table_id not in present:
                # no enrichment write fills the post-commit image's cache,
                # so it cannot become the carry
                self._next_carry = None
                return
            # probe-only epochs commit no history delta: the enrichment
            # reads the carry (or the merge-on-read state), which under
            # replay is either this epoch's own freshly-rewritten fold or
            # the predecessor — identical either way
            probes = batch_df.where(
                F.col(ENVELOPE_TABLE_ID) == self.probe_table_id
            ).select(*[F.col(f"after.{c}").alias(c) for c in self.probe_cols])
            out_path = os.path.join(self.out_dir, f"e{epoch_id}")
            probe_keys = probes.select(
                F.col(self.probe_key).alias(self.dim_key)
            ).distinct()
            hist = self._next_carry
            if hist is None:
                hist = self._carry
            if hist is None:
                # no carry yet: the store serves the read, and the
                # semi-join below bounds it to the probed keys
                hist = self.state.read(self._TABLE)
            if hist is None:
                # probes before any dimension version: NULL-enriched,
                # typed from the harmonized envelope payload
                payload_t = {
                    f.name: f.dataType
                    for f in batch_df.schema["after"].dataType.fields
                }
                enriched = probes
                for c in self.payload_cols:
                    enriched = enriched.withColumn(
                        c, F.lit(None).cast(payload_t[c])
                    )
                enriched = enriched.withColumn(
                    "valid_from_ver", F.lit(None).cast("bigint")
                )
                enriched.write.mode("overwrite").parquet(out_path)
                return
            # the join sees only the probed keys' versions — batch-bounded
            hist_probe = hist.join(
                F.broadcast(probe_keys), self.dim_key, "left_semi"
            )
            temporal_join(
                probes,
                hist_probe,
                probe_key=self.probe_key,
                probe_ts=self.probe_ts,
                dim_key=self.dim_key,
                payload_cols=self.payload_cols,
                version_col="valid_from_ver",
            ).write.mode("overwrite").parquet(out_path)

    # -- results -------------------------------------------------------------

    def current_history(self) -> DataFrame:
        hist = self.state.read(self._TABLE)
        if hist is None:
            raise RuntimeError("no committed history state")
        return hist

    def enriched(self) -> DataFrame:
        dirs = sorted(
            os.path.join(self.out_dir, d)
            for d in os.listdir(self.out_dir)
            if d.startswith("e")
            and os.path.exists(os.path.join(self.out_dir, d, "_SUCCESS"))
        )
        if not dirs:
            raise RuntimeError("no committed enriched output")
        # ONE multi-path scan instead of a per-epoch read chained through
        # unionByName: every epoch writes the identical schema, and a
        # single relation plans/lists once (r16 optimization round)
        return self.spark.read.parquet(*dirs)
