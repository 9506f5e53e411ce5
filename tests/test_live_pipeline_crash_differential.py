"""Differential wave 13b — crash-injected LIVE Derby pipeline
(pipeline/cdc_pipeline.py): the jdbc poll loop and the
capture_newly_added rescan get random crash points between
capture-consume and offset-checkpoint — the seam the postgres path
already pins (test_crash_between_merge_and_advance_replays) but the
jdbc/multi-table loop did not. A FRESH pipeline (new pipes, schema
re-discovered from live metadata) resumes over the same state_root +
offset files and keeps polling; after the final poll every sink table
must equal the live table's current contents (the replication
invariant oracle of wave 11b).

Crash phases:
  * 'offset'  — merge (and repair) landed, the offset store didn't:
    the restart re-reads the same capture window; the keyed last-image
    merge must absorb the replay.
  * 'merge'   — the envelope merge itself dies mid-flight (first
    routed target may have committed): replayed delta commits carry
    identical (pk, seq) images, so merge-on-read must converge.
  * 'repair'  — a DDL poll crashed AFTER merging the stale-trigger
    slice but BEFORE repairing the touched keys: the restart detects
    no DDL (live schema already current), so the repair obligation —
    and the capture refresh — must be carried by persistent state, not
    by the in-memory event list. THE seam this wave was built for.
  * 'rescan'  — capture_newly_added crashed between the new table's
    snapshot bootstrap and its first poll: the restart must re-capture
    it without double-applying the snapshot.
"""

import os
import random

import pytest

from flink_cdc_spark.pipeline.cdc_pipeline import (
    JdbcCdcPipeline,
    MultiTableCdcPipeline,
)
from flink_cdc_spark.sources.jdbc_live import (
    JdbcEndpoint,
    derby_url,
    install_capture,
)

SEED = 0x13B0
COLS = ["id", "name", "val"]


class _Crash(Exception):
    pass


def _create(ep, table):
    ep.execute(
        f"CREATE TABLE {table} (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, table, COLS)


def _apply_ops(ep, rng, model, table, n_ops, next_id):
    tbl = model[table]
    for _ in range(n_ops):
        r = rng.random()
        if r < 0.4 or not tbl:
            i = next_id[0]; next_id[0] += 1
            name, val = f"{table}-{i}", float(rng.randrange(1000))
            ep.insert_rows(table, COLS, [(i, name, val)])
            tbl[i] = (name, val)
        elif r < 0.8:
            i = rng.choice(sorted(tbl))
            val = float(rng.randrange(1000))
            ep.execute_update(f"UPDATE {table} SET val = {val} WHERE id = {i}")
            tbl[i] = (tbl[i][0], val)
        else:
            i = rng.choice(sorted(tbl))
            ep.execute_update(f"DELETE FROM {table} WHERE id = {i}")
            del tbl[i]


def _arm(loop, rng, phase):
    """Wound ONE random pipe of the loop for the given crash phase."""
    pipe = loop.pipes[rng.choice(sorted(loop.pipes))]
    if phase == "offset":
        def boom(offset):
            raise _Crash("crash before offset store")
        pipe._store_offset = boom
    elif phase == "merge":
        orig = pipe._merge_env

        def boom_merge(env):
            orig(env)
            raise _Crash("crash right after merge, before anything else")
        pipe._merge_env = boom_merge
    elif phase == "repair":
        def boom_repair(env):
            raise _Crash("crash before the DDL repair")
        pipe._repair_touched_keys = boom_repair
    return pipe


def _fresh(spark, url, state_root):
    loop = MultiTableCdcPipeline(
        spark, url, state_root, tables_selector=r"app.\.*",
        chunk_size=7, shuffle_partitions=4,
    )
    loop.bootstrap()
    return loop


def _assert_matches_live(ep, loop, tables, altered, label):
    for t in tables:
        cols = COLS + ([altered[t]] if t in altered else [])
        live = {
            row[0]: tuple(row[1:])
            for row in ep.query(f"SELECT {', '.join(cols)} FROM {t}")
        }
        got_rows = loop.current_state(f"app.{t}").collect()
        got = {r["id"]: tuple(r[c] for c in cols[1:]) for r in got_rows}
        assert got == live, (
            f"{label}: app.{t} diverged from live "
            f"(missing={set(live) - set(got)}, extra={set(got) - set(live)}, "
            f"diff={[k for k in got if k in live and got[k] != live[k]][:5]})"
        )


@pytest.mark.parametrize("trial,phase", [
    (0, "offset"), (1, "merge"), (2, "repair"), (3, "offset"),
])
def test_crash_in_poll_loop_replays_to_live_state(spark, tmp_path, trial,
                                                  phase):
    rng = random.Random(SEED + trial)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)
    tables = ["users", "orders"]
    model = {t: {} for t in tables}
    next_id = [1]
    for t in tables:
        _create(ep, t)
        _apply_ops(ep, rng, model, t, rng.randrange(4, 10), next_id)

    state_root = str(tmp_path / "state")
    loop = _fresh(spark, url, state_root)
    altered = {}

    n_phases = rng.randrange(2, 4)
    crash_at = rng.randrange(n_phases)
    for ph in range(n_phases):
        for t in tables:
            if phase == "repair" and ph == crash_at and t not in altered:
                # stale-trigger window: ALTER, then mutations captured by
                # the OLD triggers, including values of the new column
                col = f"extra{trial}"
                ep.execute(f"ALTER TABLE {t} ADD COLUMN {col} BIGINT")
                altered[t] = col
            _apply_ops(ep, rng, model, t, rng.randrange(2, 10), next_id)
            if t in altered and model[t]:
                i = rng.choice(sorted(model[t]))
                ep.execute_update(
                    f"UPDATE {t} SET {altered[t]} = {rng.randrange(10_000)} "
                    f"WHERE id = {i}"
                )
        if ph == crash_at:
            _arm(loop, rng, phase)
            with pytest.raises(_Crash):
                loop.poll_once()
            loop = _fresh(spark, url, state_root)  # restart
        loop.poll_once()

    _assert_matches_live(ep, loop, tables, altered,
                         f"trial {trial} phase {phase}")


def test_crash_during_newly_added_rescan_recovers(spark, tmp_path):
    """capture_newly_added crashes right after the late table's snapshot
    bootstrap stored its offset; the restarted loop must re-capture the
    table (offset present -> no double snapshot) and stream its
    subsequent traffic."""
    rng = random.Random(SEED + 77)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)
    model = {"users": {}, "events": {}}
    next_id = [1]
    _create(ep, "users")
    _apply_ops(ep, rng, model, "users", 6, next_id)

    state_root = str(tmp_path / "state")
    loop = _fresh(spark, url, state_root)

    _create(ep, "events")
    _apply_ops(ep, rng, model, "events", 5, next_id)

    # crash INSIDE the rescan, right after the new pipe bootstraps
    orig_add = loop._add_pipe

    def wounded_add(ep_, tid):
        ok = orig_add(ep_, tid)
        if ok:
            pipe = loop.pipes[str(tid)]
            orig_boot = pipe.bootstrap

            def boom():
                orig_boot()
                raise _Crash("crash after newly-added bootstrap")
            pipe.bootstrap = boom
        return ok

    loop._add_pipe = wounded_add
    with pytest.raises(_Crash):
        loop.capture_newly_added()

    # post-crash traffic on both tables, then a fresh loop resumes: it
    # discovers the late table at construction (it is live metadata now),
    # and its bootstrap must NOT re-apply the snapshot — the crashed
    # rescan already stored the table's offset
    _apply_ops(ep, rng, model, "users", 4, next_id)
    _apply_ops(ep, rng, model, "events", 4, next_id)
    loop = _fresh(spark, url, state_root)
    assert "app.events" in loop.pipes
    assert loop.capture_newly_added() == []  # nothing left to add
    loop.poll_once()

    _assert_matches_live(ep, loop, ["users", "events"], {}, "rescan crash")


def test_wave14_routed_transform_ddl_crash_converges(spark, tmp_path):
    """Wave 14 — the full interaction: replace-symbol ROUTING, a
    TRANSFORM on one table (projection excludes any later-added
    column), live ALTER ADD COLUMN with old-trigger traffic needing
    repair, and a crash injected between the DDL poll's merge and its
    repair. After a fresh loop resumes: the transformed sink equals the
    projection of the live table (no leaked new column), the plain
    routed sink equals the live table INCLUDING the new column."""
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    rng = random.Random(SEED + 140)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)
    model = {"users": {}, "orders": {}}
    next_id = [1]
    for t in model:
        _create(ep, t)
        _apply_ops(ep, rng, model, t, rng.randrange(4, 9), next_id)

    pipeline_def = parse_pipeline_yaml(
        """
source: {type: values}
sink: {type: values}
transform:
  - source-table: app.users
    projection: id, UPPER(name) AS uname, val
route:
  - source-table: app.\\.*
    sink-table: mart.<>
    replace-symbol: <>
pipeline: {execution.runtime-mode: STREAMING}
"""
    )

    def fresh():
        loop = MultiTableCdcPipeline(
            spark, url, str(tmp_path / "state"),
            pipeline_def=pipeline_def, tables_selector=r"app.\.*",
            chunk_size=7, shuffle_partitions=4,
        )
        loop.bootstrap()
        return loop

    loop = fresh()
    loop.poll_once()

    # ALTER both tables; traffic AFTER the alter is captured by the OLD
    # triggers (missing the new column) and needs the repair
    for t in model:
        ep.execute(f"ALTER TABLE {t} ADD COLUMN extra BIGINT")
        _apply_ops(ep, rng, model, t, rng.randrange(2, 7), next_id)
        for i in rng.sample(sorted(model[t]), min(2, len(model[t]))):
            ep.execute_update(
                f"UPDATE {t} SET extra = {rng.randrange(10_000)} WHERE id = {i}"
            )

    # crash between the DDL poll's merge and its repair, on one pipe
    pipe = loop.pipes["app.orders"]

    def boom(env):
        raise _Crash("crash before the DDL repair")
    pipe._repair_touched_keys = boom
    with pytest.raises(_Crash):
        loop.poll_once()

    loop = fresh()
    loop.poll_once()
    _apply_ops(ep, rng, model, "orders", 3, next_id)  # post-recovery traffic
    loop.poll_once()

    # plain routed sink: equals live INCLUDING the new column
    live = {
        row[0]: tuple(row[1:])
        for row in ep.query("SELECT id, name, val, extra FROM orders")
    }
    got = {
        r.id: (r.name, r.val, r.extra)
        for r in loop.current_state("mart.orders").collect()
    }
    assert got == live

    # transformed sink: equals the PROJECTION of live — and the new
    # column must NOT leak through the projection
    out = loop.current_state("mart.users")
    assert "extra" not in out.columns
    live_u = {
        row[0]: (row[1].upper(), row[2])
        for row in ep.query("SELECT id, name, val FROM users")
    }
    got_u = {r.id: (r.uname, r.val) for r in out.collect()}
    assert got_u == live_u
