"""The benchmark's own tests: seeded inputs repeat, the output check
catches a corrupted state, and the self-time and coverage arithmetic of a
traced run adds up. None needs a Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

from perfbench import check
from perfbench.harness import PassResult, per_layer
from perfbench.trace import Span, self_times
from perfbench.workloads import (
    JdbcTailRead,
    RetractAggEpochs,
    SnapshotBatch,
    WireStreamEvolve,
)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _inputs(cls, tmp_path, seed: int, name: str) -> tuple:
    """Everything ``generate`` made: the files under the workload's root
    and the inputs it keeps in memory (DML per poll, the change log)."""
    wl = cls(None, str(tmp_path / name), seed, None)
    wl.generate()
    log = getattr(wl, "log", None)
    return (
        _tree_digest(wl.root),
        repr(getattr(wl, "polls", None)),
        None if log is None else log.to_csv(index=False),
    )


@pytest.mark.parametrize(
    "cls", [WireStreamEvolve, JdbcTailRead, SnapshotBatch, RetractAggEpochs])
def test_same_seed_gives_identical_inputs(cls, tmp_path):
    a = _inputs(cls, tmp_path, 7, "a")
    b = _inputs(cls, tmp_path, 7, "b")
    c = _inputs(cls, tmp_path, 8, "c")
    assert a == b
    assert a != c


def test_wire_keys_are_unique_per_epoch(tmp_path):
    wl = WireStreamEvolve(None, str(tmp_path / "w"), 3, None)
    wl.generate()
    log = wl.log
    assert log["seq"].is_unique
    inserts = log[log["op"] == "INSERT"]
    assert inserts["id"].is_unique


@pytest.fixture
def reference(tmp_path):
    wl = WireStreamEvolve(None, str(tmp_path / "w"), 5, None)
    wl.generate()
    con = duckdb.connect()
    expected = wl.reference(con)
    con.execute("CREATE TABLE state AS SELECT * FROM ref_items")
    yield con, expected
    con.close()


def test_identical_state_matches(reference):
    con, expected = reference
    # row and column order do not matter
    con.execute(
        "CREATE TABLE shuffled AS SELECT note, shard, id, name_uc, qty, unit_price, name "
        "FROM state ORDER BY id DESC")
    assert check.digest(con, "state") == expected
    assert check.digest(con, "shuffled") == expected


@pytest.mark.parametrize("corruption", [
    "UPDATE state SET qty = qty + 1 WHERE id = (SELECT min(id) FROM state)",
    "UPDATE state SET unit_price = unit_price + 0.01 WHERE id = (SELECT max(id) FROM state)",
    "UPDATE state SET note = NULL WHERE id = (SELECT min(id) FROM state WHERE note IS NOT NULL)",
    "DELETE FROM state WHERE id = (SELECT min(id) FROM state)",
    "INSERT INTO state SELECT * FROM state LIMIT 1",
    "ALTER TABLE state RENAME COLUMN note TO remark",
])
def test_corrupted_state_is_caught(reference, corruption):
    con, expected = reference
    con.execute(corruption)
    assert check.digest(con, "state") != expected


def test_self_time_and_coverage():
    # a poll that reads the log and merges it, and a state read after it
    spans = [
        Span(1, "pipeline.cdc.poll", None, 0.0, 10.0),
        Span(2, "sources.jdbc.log_read", 1, 1.0, 4.0),
        Span(3, "sinks.lsm.merge", 1, 5.0, 9.0),
        Span(4, "sinks.lsm.read", None, 10.5, 11.5),
    ]
    assert self_times(spans) == {1: 3.0, 2: 3.0, 3: 4.0, 4: 1.0}
    traced = PassResult(events=10, apply_s=10.0, epochs=[10.0], reads=[2.0],
                        snapshot_s=0.0, ops=2,
                        triggers=[{"triggerExecution": 1500, "addBatch": 1000}])
    untraced = PassResult(events=10, apply_s=8.0, epochs=[8.0], reads=[2.0],
                          snapshot_s=0.0, ops=2)
    m = per_layer([traced], [untraced], [spans], failed=0, attempted=4)
    assert m["pipeline.self_s"][0] == pytest.approx(3.0)
    assert m["sinks.self_s"][0] == pytest.approx(5.0)
    # streaming time outside the batch body comes from the listener
    assert m["streaming.self_s"][0] == pytest.approx(0.5)
    assert m["streaming.trigger_overhead_s"][0] == pytest.approx(0.5)
    # covered: 3 + 3 + 5 + 0.5 of 12 s; the 1.5 s no span holds is not
    assert m["trace.coverage"][0] == pytest.approx(11.5 / 12.0)
    assert m["trace.overhead"][0] == pytest.approx(12.0 / 10.0)
    assert m["fail_ratio"][0] == 0.0
