"""Incremental join-view maintenance (streaming/incremental_join)."""

from flink_cdc_spark.sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
)
from flink_cdc_spark.streaming.incremental_join import IncrementalJoinView

_PAYLOAD = (
    "struct<o_pk:bigint, o_fk:bigint, o_val:string,"
    " c_pk:bigint, c_name:string>"
)


def _env(spark, rows):
    """rows: (table_id, op, before|None, after|None, seq); payload tuples
    are (o_pk, o_fk, o_val, c_pk, c_name) with None padding."""
    data = [(tid, op, b, a, {}, seq) for tid, op, b, a, seq in rows]
    return spark.createDataFrame(
        data,
        f"{ENVELOPE_TABLE_ID} string, {ENVELOPE_OP} string, "
        f"before {_PAYLOAD}, after {_PAYLOAD}, "
        f"{ENVELOPE_META} map<string,string>, {ENVELOPE_SEQ} bigint",
    )


def _o(pk, fk, val):
    return (pk, fk, val, None, None)


def _c(pk, name):
    return (None, None, None, pk, name)


def _build(spark, tmp_path, rows):
    ijv = IncrementalJoinView(
        spark,
        str(tmp_path / "work"),
        left_table_id="t.orders",
        right_table_id="t.cust",
        pk_left="o_pk",
        join_key="o_fk",
        pk_right="c_pk",
        left_cols=["o_pk", "o_fk", "o_val"],
        right_cols=["c_pk", "c_name"],
    )
    ijv.stage(_env(spark, rows))
    ijv.run()
    return ijv


def test_view_tracks_both_sides(spark, tmp_path):
    """Right-side update rewrites every referencing view row; right-side
    delete drops them; left-side update can re-point the join key."""
    rows = [
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.cust", OP_INSERT, None, _c(11, "bob"), 2),
        ("t.cust", OP_INSERT, None, _c(12, "cyd"), 3),
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 4),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 5),
        ("t.orders", OP_INSERT, None, _o(3, 11, "c"), 6),
        ("t.orders", OP_INSERT, None, _o(4, 12, "d"), 7),
        # updates (batch 2): rename ann -> ANN, re-point order 3 to cust 12
        ("t.cust", OP_UPDATE, _c(10, "ann"), _c(10, "ANN"), 10),
        ("t.orders", OP_UPDATE, _o(3, 11, "c"), _o(3, 12, "c2"), 11),
        # deletes (batch 3): cust 12 disappears -> orders 3 and 4 leave the view
        ("t.cust", OP_DELETE, _c(12, "cyd"), None, 20),
    ]
    ijv = _build(spark, tmp_path, rows)
    view = {(r.o_pk): (r.o_fk, r.o_val, r.c_name)
            for r in ijv.current_view().collect()}
    assert view == {
        1: (10, "a", "ANN"),
        2: (10, "b", "ANN"),
        # order 3 re-pointed to cust 12, which was then deleted -> gone
        # order 4 referenced cust 12 -> gone
    }


def test_insert_then_delete_same_batch_never_materializes(spark, tmp_path):
    rows = [
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 2),
        # key 5: born and killed inside the deletes batch (seq order)
        ("t.orders", OP_INSERT, None, _o(5, 10, "x"), 3),
        ("t.orders", OP_DELETE, _o(5, 10, "x"), None, 30),
    ]
    ijv = _build(spark, tmp_path, rows)
    pks = sorted(r.o_pk for r in ijv.current_view().collect())
    assert pks == [2]


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """Re-running the last epoch's merge rewrites the same versions from
    the same predecessors — view unchanged (foreachBatch retry safety)."""
    rows = [
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 2),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 3),
        ("t.orders", OP_UPDATE, _o(2, 10, "b"), _o(2, 10, "B"), 10),
        ("t.orders", OP_DELETE, _o(1, 10, "a"), None, 20),
    ]
    ijv = _build(spark, tmp_path, rows)
    before = sorted(
        (r.o_pk, r.o_val, r.c_name) for r in ijv.current_view().collect()
    )
    last = ijv._committed_epochs()[-1]
    batch_df = ijv.spark.read.schema(ijv._schema).parquet(
        f"{ijv.active}/b2.parquet"  # the deletes batch (3-epoch staging)
    )
    ijv._merge_epoch(batch_df, last)
    after = sorted(
        (r.o_pk, r.o_val, r.c_name) for r in ijv.current_view().collect()
    )
    assert before == after == [(2, "B", "ann")]


def test_restart_resumes_from_checkpoint(spark, tmp_path):
    """A fresh IncrementalJoinView over the same work dir processes only
    NEW batch files (the checkpoint already committed b0-b3) and keeps
    maintaining the same state lineage."""
    import os
    import time

    rows = [
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 2),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 3),
    ]
    ijv = _build(spark, tmp_path, rows)
    n_epochs = len(ijv._committed_epochs())
    # a later batch file: delete order 1
    late = _env(spark, [("t.orders", OP_DELETE, _o(1, 10, "a"), None, 30)])
    d = str(tmp_path / "late")
    late.coalesce(1).write.mode("overwrite").parquet(d)
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            dst = os.path.join(ijv.active, "b9.parquet")
            os.rename(os.path.join(d, fn), dst)
            t = time.time() + 60
            os.utime(dst, (t, t))
    ijv2 = IncrementalJoinView(
        spark, str(tmp_path / "work"),
        left_table_id="t.orders", right_table_id="t.cust",
        pk_left="o_pk", join_key="o_fk", pk_right="c_pk",
        left_cols=["o_pk", "o_fk", "o_val"], right_cols=["c_pk", "c_name"],
    )
    ijv2._schema = ijv._schema
    ijv2.run()
    assert len(ijv2._committed_epochs()) == n_epochs + 1  # exactly one new epoch
    view = sorted((r.o_pk, r.c_name) for r in ijv2.current_view().collect())
    assert view == [(2, "ann")]


def test_per_epoch_writes_are_o_delta(spark, tmp_path):
    """VERDICT r15 item 2 'done' gate: the per-epoch state WRITE is
    O(delta keys + affected view rows), asserted on the LSM delta files
    themselves — each epoch's commit holds the batch's image-plane keys
    plus only the AFFECTED view rows (upserts or tombstones); untouched
    keys and view rows are never rewritten. (The old epoch-versioned
    parquet state rewrote the whole folded table AND the whole view
    every epoch.)"""
    from pyspark.sql import functions as F

    rows = [
        # epoch 0 (inserts): 2 customers, 3 orders
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.cust", OP_INSERT, None, _c(11, "bob"), 2),
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 3),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 4),
        ("t.orders", OP_INSERT, None, _o(3, 11, "c"), 5),
        # epoch 1 (updates): ONE left-side value change -> repairs order 1 only
        ("t.orders", OP_UPDATE, _o(1, 10, "a"), _o(1, 10, "A"), 10),
        # epoch 2 (deletes): order 3 leaves -> one image tombstone + one
        # view tombstone
        ("t.orders", OP_DELETE, _o(3, 11, "c"), None, 20),
    ]
    ijv = _build(spark, tmp_path, rows)
    m = ijv.state._load(ijv._TABLE)
    assert len(m["deltas"]) == 3
    frames = {
        d["epoch"]: ijv.spark.read.parquet(
            str(tmp_path / "work" / "state" / "both" / f"delta-{d['id']:08d}")
        )
        for d in m["deltas"]
    }

    def plane_counts(df):
        return {
            r["__t"]: r["n"]
            for r in df.groupBy("__t").agg(F.count("*").alias("n")).collect()
        }

    # epoch 0: all 5 images + 3 view rows
    assert plane_counts(frames[0]) == {"lr": 5, "view": 3}
    # epoch 1: ONE image upsert + ONE repaired view row — order 2 and 3
    # (untouched) are not rewritten
    assert plane_counts(frames[1]) == {"lr": 1, "view": 1}
    assert [r.o_pk for r in frames[1].where("__t = 'view'").collect()] == [1]
    # epoch 2: one image tombstone + one view tombstone for order 3
    assert plane_counts(frames[2]) == {"lr": 1, "view": 1}
    dead = frames[2].where("__t = 'view'").collect()
    assert len(dead) == 1 and dead[0]["__k1"] == "3" and dead[0]["__deleted"]
    # untouched order 2's view row is written exactly once (its insert epoch)
    hits = [
        e
        for e, df in frames.items()
        if df.where("__t = 'view' AND __k1 = '2'").count() > 0
    ]
    assert hits == [0], f"untouched view row rewritten in epochs {hits}"

    view = {r.o_pk: (r.o_val, r.c_name) for r in ijv.current_view().collect()}
    assert view == {1: ("A", "ann"), 2: ("b", "ann")}


def test_forced_compaction_inside_run_converges(spark, tmp_path):
    """compact_every=1 forces a compaction after every merge — the
    in-flight epoch's delta stays out of the base (its checkpoint hasn't
    committed) and the view still lands exactly."""
    rows = [
        ("t.cust", OP_INSERT, None, _c(10, "ann"), 1),
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 2),
        ("t.orders", OP_INSERT, None, _o(2, 10, "b"), 3),
        ("t.cust", OP_UPDATE, _c(10, "ann"), _c(10, "ANN"), 10),
        ("t.orders", OP_DELETE, _o(1, 10, "a"), None, 20),
    ]
    ijv = IncrementalJoinView(
        spark,
        str(tmp_path / "work"),
        left_table_id="t.orders",
        right_table_id="t.cust",
        pk_left="o_pk",
        join_key="o_fk",
        pk_right="c_pk",
        left_cols=["o_pk", "o_fk", "o_val"],
        right_cols=["c_pk", "c_name"],
        compact_every=1,
    )
    ijv.stage(_env(spark, rows))
    ijv.run()
    view = {r.o_pk: (r.o_val, r.c_name) for r in ijv.current_view().collect()}
    assert view == {2: ("b", "ANN")}
    # sealed post-run: a maintenance compaction may now fold everything
    ijv.state.compact(ijv._TABLE)
    m = ijv.state._load(ijv._TABLE)
    assert m["deltas"] == [] and m["base"] is not None
    view = {r.o_pk: (r.o_val, r.c_name) for r in ijv.current_view().collect()}
    assert view == {2: ("b", "ANN")}


def test_harmonize_envelope_roundtrip(spark):
    """Casting a table's changelog to the superset payload and projecting
    its own columns back is the identity — images stay aligned, ops and
    seq untouched, foreign columns null."""
    from flink_cdc_spark.streaming.incremental_join import harmonize_envelope

    env = _env(spark, [
        ("t.orders", OP_INSERT, None, _o(1, 10, "a"), 1),
        ("t.orders", OP_UPDATE, _o(1, 10, "a"), _o(1, 11, "b"), 2),
        ("t.orders", OP_DELETE, _o(1, 11, "b"), None, 3),
    ])
    # narrow the source to ONLY the orders columns first (as a real
    # per-table changelog would be), then harmonize up to the superset
    from pyspark.sql import functions as F

    def narrow(side):
        # struct DOWN-casts are rejected; rebuild field-wise, preserving
        # null images
        return F.when(
            F.col(side).isNotNull(),
            F.struct(*[F.col(f"{side}.{c}").alias(c)
                       for c in ("o_pk", "o_fk", "o_val")]),
        ).alias(side)

    src = env.select(
        ENVELOPE_TABLE_ID, ENVELOPE_OP,
        narrow("before"), narrow("after"),
        ENVELOPE_META, ENVELOPE_SEQ,
    )
    superset = [("o_pk", "bigint"), ("o_fk", "bigint"), ("o_val", "string"),
                ("c_pk", "bigint"), ("c_name", "string")]
    harmonized = harmonize_envelope(src, superset)
    rows = {r[ENVELOPE_SEQ]: r for r in harmonized.collect()}
    assert rows[2]["before"].o_fk == 10 and rows[2]["after"].o_fk == 11
    assert rows[2]["before"].c_pk is None and rows[2]["after"].c_name is None
    assert rows[1]["before"] is None and rows[3]["after"] is None
    assert sorted(rows) == [1, 2, 3]
    # projecting the original columns back equals the narrow source
    back = harmonized.select(
        ENVELOPE_TABLE_ID, ENVELOPE_OP,
        narrow("before"), narrow("after"),
        ENVELOPE_META, ENVELOPE_SEQ,
    )
    assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))
