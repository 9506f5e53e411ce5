"""Randomized differential for the LSM merge-on-read state store
(sinks/lsm_store.py): random I/U/D batches, with one compact(), one
rename_columns() and one truncate() after seeded batches of every trial
(never the last), final read compared against a sequential dict model.
The unit tests pin each behavior in isolation and the schema-evolution
differential exercises the store through the runner with its own op
mix; this probes the store's own commit/merge/maintenance space
directly — keys rewritten across many commits, deletes of keys living
in the base, re-inserts after tombstones, renames applying to
already-written deltas, truncate mid-history, compaction at arbitrary
points."""

import random

import pytest
from pyspark.sql import types as T

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import OP_DELETE, OP_INSERT, OP_UPDATE

SEED = 0x15A7


def _payload_struct(value_col):
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField(value_col, T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )


def _env(spark, rows, value_col):
    payload = _payload_struct(value_col)
    schema = T.StructType(
        [
            T.StructField("__table_id", T.StringType()),
            T.StructField("__op", T.StringType()),
            T.StructField("before", payload),
            T.StructField("after", payload),
            T.StructField("__meta", T.MapType(T.StringType(), T.StringType())),
            T.StructField("__seq", T.LongType()),
        ]
    )
    data = [("db.t", op, b, a, {}, seq) for op, b, a, seq in rows]
    return spark.createDataFrame(data, schema)


@pytest.mark.parametrize("trial", [0, 1, 2])
def test_lsm_store_vs_sequential_model(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    store = LsmStateStore(
        spark, str(tmp_path / "lsm"), compact_every=rng.choice([3, 5, 100])
    )
    table = "db.t"
    value_col = "name"
    state = {}  # id -> (value, v)
    live, dead = set(), set()
    seq = 0
    strings = ["red", "green", "blue", ""]

    n_batches = rng.randrange(4, 8)
    maintenance = dict(zip(
        rng.sample(range(n_batches - 1), 3), ["compact", "rename", "truncate"]
    ))
    for batch in range(n_batches):
        rows = []
        for _ in range(rng.randrange(3, 12)):
            r = rng.random()
            if r < 0.15 and dead:  # re-insert after tombstone
                k = rng.choice(sorted(dead)); dead.discard(k)
            elif r < 0.45 or not live:  # fresh insert
                k = len(live) + len(dead) + 1000
            else:
                k = rng.choice(sorted(live))
            if k in live and rng.random() < 0.3:
                op = OP_DELETE
            elif k in live:
                op = OP_UPDATE
            else:
                op = OP_INSERT
            val = (rng.choice(strings), rng.randrange(100))
            if op == OP_DELETE:
                b = (k, *state[k])
                rows.append((OP_DELETE, b, None, seq))
                del state[k]; live.discard(k); dead.add(k)
            else:
                b = (k, *state[k]) if k in state else None
                rows.append((op, b, (k, *val), seq))
                state[k] = val; live.add(k)
            seq += 1
        store.merge(
            table,
            _env(spark, rows, value_col),
            _payload_struct(value_col),
            primary_keys=["id"],
        )
        op = maintenance.get(batch)
        if op == "compact":
            store.compact(table)
        elif op == "rename":  # metadata-only rename of the string column
            new_name = f"name_{seq}"
            store.rename_columns(table, [(value_col, new_name)])
            value_col = new_name
        elif op == "truncate":
            store.truncate(table)
            state.clear(); dead |= live; live.clear()

    got = {
        r["id"]: (r[value_col], r["v"])
        for r in store.read(table).collect()
    }
    assert got == state, f"trial {trial}: store diverged from the model"
