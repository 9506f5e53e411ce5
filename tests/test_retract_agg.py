"""Retract-stream incremental aggregate maintenance (streaming/retract_agg)."""

from pyspark.sql import functions as F

from flink_cdc_spark.sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
)
from flink_cdc_spark.streaming.retract_agg import (
    RetractAggregateStream,
    contribution_deltas,
    merge_state,
)

_PAYLOAD = "struct<k:bigint, grp:string, v:double>"


def _env(spark, rows):
    """rows: (op, before(k,grp,v)|None, after|None, seq)"""
    data = [
        ("t.t", op, before, after, {}, seq) for op, before, after, seq in rows
    ]
    return spark.createDataFrame(
        data,
        f"{ENVELOPE_TABLE_ID} string, {ENVELOPE_OP} string, "
        f"before {_PAYLOAD}, after {_PAYLOAD}, "
        f"{ENVELOPE_META} map<string,string>, {ENVELOPE_SEQ} bigint",
    )


def test_group_moving_update_contributes_to_both_groups(spark):
    env = _env(spark, [
        (OP_UPDATE, (2, "A", 20.0), (2, "B", 25.0), 10),
    ])
    deltas = {r.grp: (r.d_cents, r.dn)
              for r in contribution_deltas(env, "grp", "v").collect()}
    assert deltas["A"] == (-2000, -1)
    assert deltas["B"] == (2500, 1)


def test_merge_state_drops_zero_count_groups(spark):
    prev = spark.createDataFrame(
        [("A", 1, 1000), ("B", 2, 5500)],
        "grp string, n_rows bigint, sum_cents bigint",
    )
    deltas = spark.createDataFrame(
        [("A", -1000, -1), ("C", 700, 1)],
        "grp string, d_cents bigint, dn bigint",
    )
    out = {r.grp: (r.n_rows, r.sum_cents)
           for r in merge_state(prev, deltas).collect()}
    assert "A" not in out          # count reached zero -> retracted away
    assert out["B"] == (2, 5500)   # untouched group carried
    assert out["C"] == (1, 700)    # new group appears


def test_merge_state_merges_null_group_rows(spark):
    """NULL grp pin (ADVICE r16): groupBy merges NULL-group rows into
    ONE group — standard GROUP BY semantics, and the behavior that
    keeps the commit one row per pk (the old full_outer
    join never matched NULL grp and emitted two rows for one pk)."""
    prev = spark.createDataFrame(
        [(None, 1, 1000)], "grp string, n_rows bigint, sum_cents bigint"
    )
    deltas = spark.createDataFrame(
        [(None, 500, 2)], "grp string, d_cents bigint, dn bigint"
    )
    rows = merge_state(prev, deltas).collect()
    assert len(rows) == 1
    assert (rows[0].grp, rows[0].n_rows, rows[0].sum_cents) == (None, 3, 1500)


def test_end_to_end_stream_matches_recompute(spark, tmp_path):
    """Inserts, a group-moving update, and deletes across three ordered
    micro-batches: the maintained state equals a from-scratch aggregate
    of the final table state."""
    env = _env(spark, [
        (OP_INSERT, None, (1, "A", 10.0), 1),
        (OP_INSERT, None, (2, "A", 20.0), 2),
        (OP_INSERT, None, (3, "B", 30.0), 3),
        (OP_UPDATE, (2, "A", 20.0), (2, "B", 25.0), 10),  # A -> B move
        (OP_DELETE, (3, "B", 30.0), None, 20),
        (OP_DELETE, (1, "A", 10.0), None, 21),            # A count -> 0
    ])
    ra = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    ra.run()
    out = {r.grp: (r.n_rows, r.sum_cents) for r in ra.current_state().collect()}
    assert out == {"B": (1, 2500)}  # only k2 survives, moved to B
    # three committed epochs, one per staged micro-batch
    assert len(ra._committed_epochs()) == 3


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """Re-running an epoch's merge (foreachBatch crash-retry) drops the
    crashed attempt's delta and re-commits from the same committed
    predecessor — state is unchanged."""
    env = _env(spark, [
        (OP_INSERT, None, (1, "A", 10.0), 1),
        (OP_INSERT, None, (2, "B", 20.0), 2),
        (OP_UPDATE, (2, "B", 20.0), (2, "B", 99.0), 10),
        (OP_DELETE, (1, "A", 10.0), None, 20),
    ])
    ra = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    ra.run()
    before = sorted(
        (r.grp, r.n_rows, r.sum_cents) for r in ra.current_state().collect()
    )
    versions = ra._committed_epochs()
    last = versions[-1]
    n_deltas = len(ra.state._load(ra._AGG)["deltas"])
    # replay the LAST epoch: the re-merge must OVERWRITE its own delta
    batch_df = ra.spark.read.schema(ra._schema).parquet(
        f"{ra.active}/b2.parquet"
    )
    ra._merge_epoch(batch_df, last)
    after = sorted(
        (r.grp, r.n_rows, r.sum_cents) for r in ra.current_state().collect()
    )
    assert before == after == [("B", 1, 9900)]
    # the replay took the crashed attempt's place — no extra delta
    assert len(ra.state._load(ra._AGG)["deltas"]) == n_deltas


def test_restart_resumes_from_checkpoint(spark, tmp_path):
    """A fresh RetractAggregateStream over the same work dir processes
    only NEW batch files and keeps extending the same state lineage."""
    import os
    import time

    env = _env(spark, [
        (OP_INSERT, None, (1, "A", 10.0), 1),
        (OP_INSERT, None, (2, "B", 20.0), 2),
    ])
    ra = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    ra.run()
    n = len(ra._committed_epochs())
    late = _env(spark, [(OP_DELETE, (2, "B", 20.0), None, 30)])
    d = str(tmp_path / "late")
    late.coalesce(1).write.mode("overwrite").parquet(d)
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            dst = os.path.join(ra.active, "b9.parquet")
            os.rename(os.path.join(d, fn), dst)
            t = time.time() + 60
            os.utime(dst, (t, t))
    ra2 = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra2.run()  # schema inferred from the staged files
    assert len(ra2._committed_epochs()) == n + 1
    out = {r.grp: (r.n_rows, r.sum_cents) for r in ra2.current_state().collect()}
    assert out == {"A": (1, 1000)}


def test_per_epoch_state_write_is_o_touched_groups(spark, tmp_path):
    """VERDICT r14 item 4 'done' gate for this machine: the per-epoch
    state WRITE is O(touched groups), asserted on the LSM delta files
    themselves — each epoch's delta holds one row per group the batch
    touched (an upsert, or a DELETE tombstone when the count hit zero),
    and untouched groups are never rewritten. (The old epoch-versioned
    parquet state rewrote ALL live groups every epoch.)"""
    env = _env(spark, [
        # epoch 0 (inserts): groups A(k0,k1) B(k2,k3) C(k4)
        (OP_INSERT, None, (0, "A", 10.0), 1),
        (OP_INSERT, None, (1, "A", 20.0), 2),
        (OP_INSERT, None, (2, "B", 30.0), 3),
        (OP_INSERT, None, (3, "B", 40.0), 4),
        (OP_INSERT, None, (4, "C", 50.0), 5),
        # epoch 1 (updates): ONE in-group value change -> touches only A
        (OP_UPDATE, (0, "A", 10.0), (0, "A", 15.0), 10),
        # epoch 2 (deletes): C's only row -> C's count hits zero
        (OP_DELETE, (4, "C", 50.0), None, 20),
    ])
    ra = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    ra.run()

    m = ra.state._load(ra._AGG)
    assert len(m["deltas"]) == 3
    frames = {
        d["epoch"]: spark.read.parquet(
            str(tmp_path / "work" / "state" / "agg" / f"delta-{d['id']:08d}")
        )
        for d in m["deltas"]
    }
    # epoch 0: 3 groups appear; epochs 1/2: exactly the ONE touched group
    assert frames[0].count() == 3
    assert frames[1].count() == 1
    assert frames[2].count() == 1
    # untouched group B is written exactly once (its insert epoch)
    hits = [e for e, df in frames.items()
            if df.where(F.col("grp") == "B").count() > 0]
    assert hits == [0], f"group B rewritten in epochs {hits}"
    # C's zero-count exit is a tombstone, not a rewrite of other groups
    assert frames[2].where(F.col("grp") == "C").count() == 1
    out = {r.grp: (r.n_rows, r.sum_cents)
           for r in ra.current_state().collect()}
    assert out == {"A": (2, 3500), "B": (2, 7000)}


def test_epoch_job_counts_are_pinned(spark, tmp_path, monkeypatch):
    """Spark jobs per epoch, counted with the status tracker under one
    job group per ``_merge_epoch`` call. Job counts do not move with
    host contention, so this pins the fold's fixed per-epoch cost: the
    state read is one unpruned merge-on-read that opens each commit file
    with its recorded schema (no inference job), and the batch's deltas
    are recomputed rather than cached."""
    import uuid

    env = _env(spark, [
        (OP_INSERT, None, (0, "A", 10.0), 1),
        (OP_INSERT, None, (1, "B", 20.0), 2),
        (OP_INSERT, None, (2, "C", 30.0), 3),
        (OP_UPDATE, (0, "A", 10.0), (0, "A", 15.0), 10),
        (OP_DELETE, (2, "C", 30.0), None, 20),
    ])
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    groups = []
    merge_epoch = RetractAggregateStream._merge_epoch

    def counted(self, batch_df, epoch_id):
        groups.append(f"retract-agg-{run_id}-{epoch_id}")
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", groups[-1])
        try:
            merge_epoch(self, batch_df, epoch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(RetractAggregateStream, "_merge_epoch", counted)
    ra = RetractAggregateStream(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    ra.run()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs == [2, 5, 5], jobs
    out = {r.grp: (r.n_rows, r.sum_cents)
           for r in ra.current_state().collect()}
    assert out == {"A": (1, 1500), "B": (1, 2000)}
