"""Differential wave 11 — the LIVE multi-table CDC pipeline
(pipeline/cdc_pipeline.MultiTableCdcPipeline): random interleaved
insert/update/delete scripts against several live Derby tables, with a
table CREATED MID-STREAM (scan.newly-added-table), a transform rule on
one table and replace-symbol routing on all — after bootstrap + rescan
+ random poll phases, every routed sink table's LSM state must equal a
sequential dict model that applied the same row ops one at a time.

Complements tests/test_cdc_pipeline.py (scripted shapes): this probes
the op-interleaving space — multiple updates to one key between polls
(the capture log replays all of them; last image must win), delete
followed by re-insert of the same key across phases, empty polls, and
mutations racing the newly-added table's snapshot."""

import random

import pytest

from flink_cdc_spark.pipeline.cdc_pipeline import MultiTableCdcPipeline
from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml
from flink_cdc_spark.sources.jdbc_live import (
    JdbcEndpoint,
    derby_url,
    install_capture,
)

SEED = 0x11FE
COLS = ["id", "name", "val"]


def _create(ep, table):
    ep.execute(
        f"CREATE TABLE {table} (id BIGINT NOT NULL PRIMARY KEY, "
        "name VARCHAR(50), val DOUBLE)"
    )
    install_capture(ep, table, COLS)


def _apply_ops(ep, rng, model, table, n_ops, next_id):
    """Apply n_ops random row ops to the LIVE table and the dict model."""
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
            if rng.random() < 0.5:
                val = float(rng.randrange(1000))
                ep.execute_update(f"UPDATE {table} SET val = {val} WHERE id = {i}")
                tbl[i] = (tbl[i][0], val)
            else:
                name = f"{table}-{i}-r{rng.randrange(100)}"
                ep.execute_update(
                    f"UPDATE {table} SET name = '{name}' WHERE id = {i}"
                )
                tbl[i] = (name, tbl[i][1])
        else:
            i = rng.choice(sorted(tbl))
            ep.execute_update(f"DELETE FROM {table} WHERE id = {i}")
            del tbl[i]


@pytest.mark.parametrize("trial", range(2))
def test_live_multi_table_pipeline_matches_model(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)

    initial = ["users", "orders"]
    late = "events"  # created mid-stream
    model = {t: {} for t in initial + [late]}
    next_id = [1]
    for t in initial:
        _create(ep, t)
        _apply_ops(ep, rng, model, t, rng.randrange(5, 15), next_id)

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
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "state"),
        pipeline_def=pipeline_def, tables_selector=r"app.\.*",
        chunk_size=7, shuffle_partitions=4,
    )
    loop.bootstrap()

    n_phases = rng.randrange(2, 4)
    for phase in range(n_phases):
        tables = list(model)
        if phase == 0:
            # the newly-added table appears while the others stream
            _create(ep, late)
            _apply_ops(ep, rng, model, late, rng.randrange(4, 10), next_id)
        for t in initial:
            if rng.random() < 0.85:  # sometimes a table sits a phase out
                _apply_ops(ep, rng, model, t, rng.randrange(0, 12), next_id)
        if phase == 0:
            added = loop.capture_newly_added()
            assert added == ["app.events"]
            # post-snapshot traffic on the new table before the next poll
            _apply_ops(ep, rng, model, late, rng.randrange(0, 6), next_id)
        loop.poll_once()

    for t in model:
        got_rows = loop.current_state(f"mart.{t}").collect()
        if t == "users":
            got = {r.id: (r.uname, r.val) for r in got_rows}
            want = {i: (n.upper(), v) for i, (n, v) in model[t].items()}
        else:
            got = {r.id: (r.name, r.val) for r in got_rows}
            want = dict(model[t])
        assert got == want, (
            f"trial {trial}: mart.{t} diverged "
            f"(missing={set(want) - set(got)}, extra={set(got) - set(want)})"
        )


@pytest.mark.parametrize("trial", range(2))
def test_live_pipeline_with_ddl_converges_to_live_state(spark, tmp_path, trial):
    """Wave 11b — live DDL mid-stream: ALTER TABLE ADD COLUMN lands
    between polls, events logged before the poll were captured by the
    OLD triggers (images missing the new column), the poll must detect
    the DDL, refresh capture, and repair the touched keys. The
    replication invariant IS the oracle: after the final poll every
    routed sink table equals the live table's current contents (new
    column NULL for rows never touched after the ALTER)."""
    rng = random.Random(SEED + 50 + trial)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)

    tables = ["orders", "events"]
    model = {t: {} for t in tables}
    next_id = [1]
    for t in tables:
        _create(ep, t)
        _apply_ops(ep, rng, model, t, rng.randrange(5, 12), next_id)

    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "state"),
        tables_selector=r"app.\.*", chunk_size=7, shuffle_partitions=4,
    )
    loop.bootstrap()

    altered = {}  # table -> new column name
    n_phases = rng.randrange(2, 4)
    for phase in range(n_phases):
        for t in tables:
            if t not in altered and rng.random() < (0.6 if phase else 0.4):
                col = f"extra{trial}"
                ep.execute(f"ALTER TABLE {t} ADD COLUMN {col} BIGINT")
                altered[t] = col
            # mutations AFTER the alter, BEFORE the poll that detects it:
            # captured by the old triggers, must be repaired
            _apply_ops(ep, rng, model, t, rng.randrange(0, 10), next_id)
            if t in altered and model[t] and rng.random() < 0.8:
                i = rng.choice(sorted(model[t]))
                v = rng.randrange(10_000)
                ep.execute_update(
                    f"UPDATE {t} SET {altered[t]} = {v} WHERE id = {i}"
                )
        loop.poll_once()

    for t in tables:
        cols = ["id", "name", "val"] + ([altered[t]] if t in altered else [])
        live = {
            row[0]: tuple(row[1:])
            for row in ep.query(f"SELECT {', '.join(cols)} FROM {t}")
        }
        got_rows = loop.current_state(f"app.{t}").collect()
        got = {r["id"]: tuple(r[c] for c in cols[1:]) for r in got_rows}
        assert got == live, (
            f"trial {trial}: app.{t} diverged from live "
            f"(missing={set(live) - set(got)}, extra={set(got) - set(live)}, "
            f"diff={[k for k in got if k in live and got[k] != live[k]][:5]})"
        )


def test_trailing_ddl_visible_on_routed_sink(spark, tmp_path):
    """A trailing ALTER TABLE ADD COLUMN (no data events after it) must
    surface in the ROUTED sink table's reads — the base pipeline pushed
    the evolved schema to the SOURCE table id, which a routed pipe's
    state never materializes, so the new column stayed invisible until
    the next merge (r14 finding). The coordinator's events now reach
    every routed sink table through `apply_schema_change`."""
    rng = random.Random(SEED + 99)
    ep = JdbcEndpoint(spark, derby_url(str(tmp_path / "db")))
    url = derby_url(str(tmp_path / "db"), create=False)
    model = {"users": {}}
    next_id = [1]
    _create(ep, "users")
    _apply_ops(ep, rng, model, "users", 5, next_id)

    pipeline_def = parse_pipeline_yaml(
        """
source: {type: values}
sink: {type: values}
route:
  - source-table: app.\\.*
    sink-table: mart.<>
    replace-symbol: <>
pipeline: {execution.runtime-mode: STREAMING}
"""
    )
    loop = MultiTableCdcPipeline(
        spark, url, str(tmp_path / "state"),
        pipeline_def=pipeline_def, tables_selector=r"app.\.*",
        chunk_size=7, shuffle_partitions=4,
    )
    loop.bootstrap()

    # the ALTER is the LAST thing that happens before the poll — zero
    # data events after it, so only the sink-schema push can surface it
    ep.execute("ALTER TABLE users ADD COLUMN extra BIGINT")
    loop.poll_once()

    out = loop.current_state("mart.users")
    assert "extra" in out.columns
    rows = {r.id: (r.name, r.extra) for r in out.collect()}
    assert rows == {i: (n, None) for i, (n, v) in model["users"].items()}
