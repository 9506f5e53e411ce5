"""Block loss of the carried state plane.

Between ``localCheckpoint`` anchors a carry machine keeps its resolved
state plane as a filled cache. Off local mode an executor or block loss
evicts it, and the next epoch recomputes the frame from its lineage:
the staged batch files and the state store's commit files as they were
when the carry was built. This test evicts the carry after every epoch
of the registry row each machine backs (three epochs, so the carry is
never anchored) and checks the row still hash-matches its DuckDB oracle
SQL.
"""

import os

import duckdb
import pytest

from flink_cdc_spark import contract
from flink_cdc_spark.streaming import (
    incremental_join,
    retract_topn,
    temporal_join_stream,
)
from scripts.check_contract import TABLES, table_hash
from tests.conftest import SF_DIR

MACHINES = {
    "streaming_retract_topn": (retract_topn, "RetractTopNStream"),
    "streaming_incremental_join_view": (incremental_join, "IncrementalJoinView"),
    "streaming_temporal_join_scd2": (temporal_join_stream, "StreamingTemporalJoin"),
}


@pytest.mark.parametrize("row", sorted(MACHINES))
def test_carry_eviction_still_matches_oracle(spark, monkeypatch, row):
    module, name = MACHINES[row]
    evicted = []

    class Evicting(getattr(module, name)):
        def _merge_epoch(self, batch_df, epoch_id):
            super()._merge_epoch(batch_df, epoch_id)
            if self._carry is not None:
                self._carry.unpersist(blocking=True)
                evicted.append(epoch_id)

    monkeypatch.setattr(module, name, Evicting)
    got = contract.QUERIES[row](spark, SF_DIR)
    cols = [c.lower() for c in got.columns]
    rows = [tuple(r) for r in got.collect()]
    assert evicted, "the carry was never adopted, so nothing was evicted"

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    rel = con.sql(contract.oracle_sql()[row])
    want_cols = [c.lower() for c in rel.columns]
    want = rel.fetchall()
    con.close()
    assert sorted(cols) == sorted(want_cols)
    assert len(rows) == len(want)
    assert table_hash(cols, rows) == table_hash(want_cols, want)
