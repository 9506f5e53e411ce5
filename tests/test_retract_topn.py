"""Retract Top-N: group-moving updates repair the group they LEFT,
deletes promote the next row, epoch retries are idempotent."""

import os

import pytest
from pyspark.sql import Row, functions as F

from flink_cdc_spark.sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
)
from flink_cdc_spark.streaming.retract_topn import RetractTopNStream

PAYLOAD = "k LONG, g STRING, val DOUBLE"


def _env(spark, rows):
    data = [
        Row(
            __table_id="t.x",
            __op=op,
            before=before,
            after=after,
            __meta={},
            __seq=seq,
        )
        for (op, before, after, seq) in rows
    ]
    return spark.createDataFrame(
        data,
        f"__table_id STRING, __op STRING, before STRUCT<{PAYLOAD.replace(',', ',')}>, "
        f"after STRUCT<{PAYLOAD}>, __meta MAP<STRING,STRING>, __seq LONG",
    )


def _row(k, g, val):
    return Row(k=k, g=g, val=val)


def _build(spark, tmp_path, rows, n=2):
    tn = RetractTopNStream(
        spark, str(tmp_path / "work"), key="k", group="g", value="val", n=n
    )
    tn.stage(_env(spark, rows))
    tn.run()
    return tn


def test_group_move_repairs_both_groups(spark, tmp_path):
    """An update that moves the leader of group A into group B must
    remove it from A's ranking (promoting A's runner-up) AND insert it
    into B's — the before-image group is 'touched'."""
    rows = [
        (OP_INSERT, None, _row(1, "A", 100.0), 1),
        (OP_INSERT, None, _row(2, "A", 50.0), 2),
        (OP_INSERT, None, _row(3, "A", 25.0), 3),
        (OP_INSERT, None, _row(4, "B", 10.0), 4),
        # leader of A moves to B (and outranks B's only row)
        (OP_UPDATE, _row(1, "A", 100.0), _row(1, "B", 100.0), 10),
    ]
    tn = _build(spark, tmp_path, rows)
    got = {(r.g, r.rnk): (r.k, r.value_cents)
           for r in tn.current_topn().collect()}
    assert got == {
        ("A", 1): (2, 5000),   # runner-up promoted
        ("A", 2): (3, 2500),   # third row enters the top-2
        ("B", 1): (1, 10000),  # mover outranks
        ("B", 2): (4, 1000),
    }


def test_delete_promotes_next_row(spark, tmp_path):
    rows = [
        (OP_INSERT, None, _row(1, "A", 300.0), 1),
        (OP_INSERT, None, _row(2, "A", 200.0), 2),
        (OP_INSERT, None, _row(3, "A", 100.0), 3),
        (OP_DELETE, _row(1, "A", 300.0), None, 20),
    ]
    tn = _build(spark, tmp_path, rows)
    got = {(r.g, r.rnk): r.k for r in tn.current_topn().collect()}
    assert got == {("A", 1): 2, ("A", 2): 3}


def test_value_ties_break_by_key(spark, tmp_path):
    rows = [
        (OP_INSERT, None, _row(7, "A", 100.0), 1),
        (OP_INSERT, None, _row(3, "A", 100.0), 2),
        (OP_INSERT, None, _row(5, "A", 100.0), 3),
    ]
    tn = _build(spark, tmp_path, rows)
    got = [(r.rnk, r.k) for r in sorted(tn.current_topn().collect(),
                                        key=lambda r: r.rnk)]
    assert got == [(1, 3), (2, 5)]


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """Re-running the last epoch rewrites the same versions from the
    same predecessors — view unchanged (foreachBatch retry safety)."""
    rows = [
        (OP_INSERT, None, _row(1, "A", 10.0), 1),
        (OP_INSERT, None, _row(2, "A", 20.0), 2),
        (OP_UPDATE, _row(2, "A", 20.0), _row(2, "A", 5.0), 10),
        (OP_DELETE, _row(1, "A", 10.0), None, 20),
    ]
    tn = _build(spark, tmp_path, rows)
    before = sorted((r.g, r.rnk, r.k, r.value_cents)
                    for r in tn.current_topn().collect())
    last = tn._committed_epochs()[-1]
    batch_df = tn.spark.read.schema(tn._schema).parquet(
        os.path.join(tn.active, "b2.parquet")  # the deletes batch
    )
    tn._merge_epoch(batch_df, last)
    after = sorted((r.g, r.rnk, r.k, r.value_cents)
                   for r in tn.current_topn().collect())
    assert before == after == [("A", 1, 2, 500)]


def test_delete_with_null_before_image_leaves_no_ghost(spark, tmp_path):
    """A changelog whose DELETE carries no before image (some sources
    emit key-only deletes) must still repair the group the key was in:
    the state table's own group for the delta key marks it touched."""
    rows = [
        (OP_INSERT, None, _row(1, "A", 100.0), 1),
        (OP_INSERT, None, _row(2, "A", 50.0), 2),
        (OP_INSERT, None, _row(3, "B", 10.0), 3),
        # key-only delete: before image is NULL except the key
        (OP_DELETE, _row(1, None, None), None, 10),
    ]
    tn = _build(spark, tmp_path, rows)
    got = {(r.g, r.rnk): (r.k, r.value_cents)
           for r in tn.current_topn().collect()}
    assert got == {
        ("A", 1): (2, 5000),   # ghost of k=1 gone, runner-up leads
        ("B", 1): (3, 1000),
    }


def test_per_epoch_writes_are_o_delta(spark, tmp_path):
    """VERDICT r14 item 4 'done' gate for this machine: BOTH per-epoch
    state planes are delta-bounded, asserted on the LSM delta files —
    the `tbl` plane holds one row per batch key (upsert or tombstone),
    the `topn` plane holds only the touched groups' recomputed rank
    rows plus tombstones for rank slots the recompute no longer fills;
    untouched keys and groups are never rewritten. (The old
    epoch-versioned parquet state rewrote the FULL table + view every
    epoch.) Both planes ride in ONE union-tagged commit per epoch."""
    rows = [
        # epoch 0 (inserts): A(k1 100, k2 50, k3 25) B(k4 10, k5 5)
        (OP_INSERT, None, _row(1, "A", 100.0), 1),
        (OP_INSERT, None, _row(2, "A", 50.0), 2),
        (OP_INSERT, None, _row(3, "A", 25.0), 3),
        (OP_INSERT, None, _row(4, "B", 10.0), 4),
        (OP_INSERT, None, _row(5, "B", 5.0), 5),
        # epoch 1 (updates): k3 climbs within A -> touches only A
        (OP_UPDATE, _row(3, "A", 25.0), _row(3, "A", 75.0), 10),
        # epoch 2 (deletes): k5 leaves B -> B shrinks to one row
        (OP_DELETE, _row(5, "B", 5.0), None, 20),
    ]
    tn = _build(spark, tmp_path, rows)

    m = tn.state._load("both")
    assert len(m["deltas"]) == 3  # ONE commit per epoch, both planes

    def frames(plane):
        return {
            d["epoch"]: spark.read.parquet(
                str(tmp_path / "work" / "state" / "both"
                    / f"delta-{d['id']:08d}")
            ).where(F.col("__t") == plane)
            for d in m["deltas"]
        }

    tbl = frames("tbl")
    assert {e: df.count() for e, df in tbl.items()} == {0: 5, 1: 1, 2: 1}
    # untouched key k2 is written exactly once (its insert epoch)
    hits = [e for e, df in tbl.items()
            if df.where(F.col("k") == 2).count() > 0]
    assert hits == [0], f"key 2 rewritten in epochs {hits}"

    topn = frames("topn")
    # epoch 0: both groups' top-2 = 4 rows; epoch 1: A's recomputed
    # top-2; epoch 2: B's new top-1 + a tombstone for B's old rnk-2 slot
    assert {e: df.count() for e, df in topn.items()} == {0: 4, 1: 2, 2: 2}
    assert topn[1].where(F.col("g") == "B").count() == 0
    assert topn[2].where(F.col("__deleted")).count() == 1

    got = sorted((r.g, r.rnk, r.k) for r in tn.current_topn().collect())
    assert got == [("A", 1, 1), ("A", 2, 3), ("B", 1, 4)]
