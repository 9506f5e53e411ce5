"""Randomized differential for the streaming state machines: random
I/U/D changelogs (NOT the MutationSpec fixture) replayed through
RetractTopNStream and IncrementalJoinView, final state compared against
brute-force Python models that apply the ops sequentially.

The contract rows prove oracle parity on one deterministic mutation
shape; this probes the op-sequence space around it — keys updated
several times, group-moving updates, delete-then-nothing, groups that
empty out entirely, join keys repointed across the dimension. The
models are dict loops applying ops in __seq order, so a shared mistake
with the epoch-merge plans is implausible.
"""

import random

import pytest
from pyspark.sql import Row

from flink_cdc_spark.sources.envelope import (
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
)

SEED = 0xD1FF


def _random_changelog(rng, n_keys, groups, n_mutations, key0=0):
    """Sequential op list: every key inserted once, then random
    update/delete mutations against live keys (updates may move groups
    and rewrite values; deletes kill). Returns (ops, final) where final
    is the model's end state {key: (group, value)}."""
    ops, state, seq = [], {}, 0
    for k in range(key0, key0 + n_keys):
        g, v = rng.choice(groups), float(rng.choice([10, 25, 99, 250, 777]))
        ops.append((OP_INSERT, None, (k, g, v), seq)); seq += 1
        state[k] = (g, v)
    for _ in range(n_mutations):
        if not state:
            break
        k = rng.choice(sorted(state))
        og, ov = state[k]
        if rng.random() < 0.6:
            ng = rng.choice(groups)  # may move groups
            nv = float(rng.choice([5, 50, 123, 999]))
            ops.append((OP_UPDATE, (k, og, ov), (k, ng, nv), seq)); seq += 1
            state[k] = (ng, nv)
        else:
            ops.append((OP_DELETE, (k, og, ov), None, seq)); seq += 1
            del state[k]
    return ops, state


def _env_df(spark, ops, table_id="t.x", cols=("k", "g", "val")):
    def img(t):
        return None if t is None else Row(**dict(zip(cols, t)))

    rows = [
        Row(__table_id=table_id, __op=op, before=img(b), after=img(a),
            __meta={}, __seq=seq)
        for (op, b, a, seq) in ops
    ]
    payload = "k LONG, g STRING, val DOUBLE"
    return spark.createDataFrame(
        rows,
        f"__table_id STRING, __op STRING, before STRUCT<{payload}>, "
        f"after STRUCT<{payload}>, __meta MAP<STRING,STRING>, __seq LONG",
    )


@pytest.mark.parametrize("trial", [0, 1, 2])
def test_retract_topn_vs_sequential_model(spark, tmp_path, trial):
    from flink_cdc_spark.streaming.retract_topn import RetractTopNStream

    rng = random.Random(SEED + trial)
    groups = ["A", "B", "C", "D"]
    ops, final = _random_changelog(rng, n_keys=40, groups=groups,
                                   n_mutations=60)
    n = 2
    tn = RetractTopNStream(
        spark, str(tmp_path / f"w{trial}"), key="k", group="g",
        value="val", n=n,
    )
    tn.stage(_env_df(spark, ops))
    tn.run()
    got = {(r.g, r.rnk): (r.k, r.value_cents)
           for r in tn.current_topn().collect()}

    model = {}
    by_group = {}
    for k, (g, v) in final.items():
        by_group.setdefault(g, []).append((k, int(v * 100 + 0.5)))
    for g, rows in by_group.items():
        rows.sort(key=lambda t: (-t[1], t[0]))
        for i, (k, c) in enumerate(rows[:n], start=1):
            model[(g, i)] = (k, c)
    assert got == model


def _env_df_named(spark, ops, table_id, cols, superset_payload):
    """Envelope frame whose images carry only `cols`, padded to the
    harmonized superset schema (nulls for the other side's columns)."""
    names = [n for n, _ in superset_payload]

    def img(t):
        if t is None:
            return None
        d = dict(zip(cols, t))
        return Row(**{n: d.get(n) for n in names})

    payload = ", ".join(f"{n} {t}" for n, t in superset_payload)
    rows = [
        Row(__table_id=table_id, __op=op, before=img(b), after=img(a),
            __meta={}, __seq=seq)
        for (op, b, a, seq) in ops
    ]
    return spark.createDataFrame(
        rows,
        f"__table_id STRING, __op STRING, before STRUCT<{payload}>, "
        f"after STRUCT<{payload}>, __meta MAP<STRING,STRING>, __seq LONG",
    )


@pytest.mark.parametrize("trial", [0, 1])
def test_incremental_join_vs_sequential_model(spark, tmp_path, trial):
    from flink_cdc_spark.streaming.incremental_join import IncrementalJoinView

    rng = random.Random(SEED ^ (0xB0 + trial))
    cust_ids = list(range(8))  # two of these never get a dim row
    lops, lfinal = _random_changelog(rng, n_keys=35, groups=cust_ids,
                                     n_mutations=50)
    rops, rfinal = _random_changelog(rng, n_keys=6, groups=["x"],
                                     n_mutations=8, key0=0)
    # right rows: pk == join key (customer id 0..5), value = cval
    rops = [
        (op,
         None if b is None else (b[0], b[2]),
         None if a is None else (a[0], a[2]),
         seq + 100_000)
        for (op, b, a, seq) in rops
    ]
    superset = [("k", "BIGINT"), ("ck", "BIGINT"),
                ("val", "DOUBLE"), ("cval", "DOUBLE")]
    left = _env_df_named(spark, lops, "t.left", ("k", "ck", "val"), superset)
    right = _env_df_named(spark, rops, "t.right", ("ck", "cval"), superset)
    env = left.unionByName(right)
    ijv = IncrementalJoinView(
        spark, str(tmp_path / f"w{trial}"),
        left_table_id="t.left", right_table_id="t.right",
        pk_left="k", join_key="ck", pk_right="ck",
        left_cols=["k", "ck", "val"], right_cols=["ck", "cval"],
    )
    ijv.stage(env)
    ijv.run()
    got = {(r.k, r.ck, r.val, r.cval)
           for r in ijv.current_view().collect()}

    live_dim = {k: v for k, (_, v) in rfinal.items()}
    model = {
        (k, ck, v, live_dim[ck])
        for k, (ck, v) in lfinal.items()
        if ck in live_dim
    }
    assert got == model


@pytest.mark.parametrize("trial", [0, 1, 2])
def test_retract_aggregate_vs_sequential_model(spark, tmp_path, trial):
    """Group-moving updates must retract from the old group AND
    accumulate into the new one; groups that empty out must not linger
    with zero rows (or must report n_rows=0 consistently — pin whichever
    the engine does against the model's interpretation: only groups with
    live rows appear)."""
    from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream

    rng = random.Random(SEED ^ (0xAA + trial))
    groups = ["A", "B", "C"]
    ops, final = _random_changelog(rng, n_keys=30, groups=groups,
                                   n_mutations=45)
    ra = RetractAggregateStream(
        spark, str(tmp_path / f"w{trial}"), group="g", value="val"
    )
    ra.stage(_env_df(spark, ops))
    ra.run()
    got = {r.grp: (r.n_rows, r.sum_cents)
           for r in ra.current_state().collect() if r.n_rows}

    model = {}
    for k, (g, v) in final.items():
        n, s = model.get(g, (0, 0))
        model[g] = (n + 1, s + int(v * 100 + 0.5))
    assert got == model


@pytest.mark.parametrize("trial", [0, 1])
def test_interval_join_vs_pairwise_model(spark, tmp_path, trial):
    """Random view/click streams across replay batches: the drained
    stream-stream interval join must equal the brute-force all-pairs
    model (user match + click within [view_ts, view_ts + window]) —
    matches routinely span micro-batches, exercising two-sided state."""
    from flink_cdc_spark.streaming.stream_join import stream_interval_join
    from flink_cdc_spark.streaming.windowed import write_replay_batches

    rng = random.Random(SEED ^ (0xC0 + trial))
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    events = []
    for eid in range(140):
        user = rng.randrange(6)
        # spread over ~30 days so batch_expr stripes into several batches
        t_us = base_us + rng.randrange(30 * 24 * 3600) * 1_000_000
        etype = "view" if rng.random() < 0.5 else "click"
        events.append((eid, t_us, user, etype, 1.0))
    df = spark.createDataFrame(
        events, "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE"
    ).selectExpr(
        "event_id", "timestamp_micros(ts_us) AS ts", "user_id", "event_type", "value"
    )
    staged = str(tmp_path / f"staged{trial}")
    write_replay_batches(df, staged)
    out = stream_interval_join(spark, staged, str(tmp_path / f"w{trial}"))
    got = {(r.view_id, r.click_id) for r in out.collect()}

    window_us = 60 * 60 * 1_000_000
    views = [(e[0], e[2], e[1]) for e in events if e[3] == "view"]
    clicks = [(e[0], e[2], e[1]) for e in events if e[3] == "click"]
    model = {
        (vid, cid)
        for (vid, vu, vt) in views
        for (cid, cu, ct) in clicks
        if vu == cu and vt <= ct <= vt + window_us
    }
    assert got == model


@pytest.mark.parametrize("trial", [0, 1])
def test_session_windows_vs_gap_scan_model(spark, tmp_path, trial):
    """Random per-user event times (with exact-gap and duplicate-time
    cases) through the watermarked streaming session_window must equal
    the sequential gap-scan model: same session iff the time delta to
    the previous event is <= gap (Spark merges events exactly gap
    apart; splits only on strictly-greater)."""
    from flink_cdc_spark.streaming.session_windows import (
        streaming_session_windows,
    )

    rng = random.Random(SEED ^ (0xE0 + trial))
    gap_min = 30
    gap_us = gap_min * 60 * 1_000_000
    base_us = 1_704_067_200_000_000
    rows = []
    for user in range(5):
        t = base_us + rng.randrange(3600) * 1_000_000
        for _ in range(rng.randrange(5, 25)):
            # deltas straddle the gap; include exactly-gap and zero
            delta = rng.choice([0, gap_us, gap_us + 1_000_000,
                                rng.randrange(gap_us) ,
                                rng.randrange(3 * gap_us)])
            t += delta
            rows.append((user, t))
    df = spark.createDataFrame(rows, "user_id LONG, t_us LONG").selectExpr(
        "user_id", "timestamp_micros(t_us) AS ts"
    )
    out = streaming_session_windows(
        spark, df, str(tmp_path / f"ssw{trial}"), gap_minutes=gap_min
    )
    got = {(r.user_id, r.start_us, r.end_us, r.n_events) for r in out.collect()}

    model = set()
    by_user = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    for u, ts in by_user.items():
        ts.sort()
        start, prev, n = ts[0], ts[0], 1
        for t in ts[1:]:
            if t - prev > gap_us:
                model.add((u, start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        model.add((u, start, prev, n))
    assert got == model
