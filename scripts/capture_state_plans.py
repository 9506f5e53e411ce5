"""Capture an epoch-state machine's PER-EPOCH state-access plans — the
plans the bench row actually pays for, which live inside foreachBatch
and are invisible to the final-read audit (the capture_tjoin_plans.py
technique, generalized to any LSM-backed row).

Instrumented call sites:
  * ``LsmStateStore.read``  — every merge-on-read disk resolution of
    state (the before shape re-resolves per epoch; the after shape's
    carry makes these disappear from steady-state epochs);
  * ``LsmStateStore.merge`` — the ONE union-tagged delta-commit input
    plan per epoch (its plan shows the O(delta) write volume);
  * ``IcebergTableStore.read`` — each Iceberg merge-on-read (data and
    delete files in one window), for the Iceberg registry rows;
  * ``DataFrameWriter.parquet`` — the plan each commit file (an LSM
    delta or base, an Iceberg or Hudi data file) is written from, i.e.
    the commit write job itself;
  * on pre-conversion code (r15 ``IncrementalJoinView._write``), the
    per-epoch ``mode("overwrite")`` full-state write plans instead.

Usage: python scripts/capture_state_plans.py ROW OUT.txt
Runs the registry row end-to-end at sf0.001 (CAPTURE_SF_DIR overrides).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CAPTURE_SF_DIR", "/root/testdata/sf0.001")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main():
    row, out_path = sys.argv[1], sys.argv[2]
    from flink_cdc_spark import contract
    from flink_cdc_spark.session import get_spark
    from flink_cdc_spark.sinks.iceberg_store import IcebergTableStore
    from flink_cdc_spark.sinks.lsm_store import LsmStateStore

    from pyspark.sql.readwriter import DataFrameWriter

    spark = get_spark("capture_state_plans")
    sections = []

    orig_read = LsmStateStore.read
    orig_merge = LsmStateStore.merge
    orig_ice_read = IcebergTableStore.read
    orig_parquet = DataFrameWriter.parquet

    def read_spy(self, table, *a, **kw):
        df = orig_read(self, table, *a, **kw)
        if df is not None:
            pred = kw.get("predicate") or (a[0] if a else None)
            sections.append(
                (f"state.read({table!r}, predicate={pred!r}) "
                 "[merge-on-read from disk]", fmt(df))
            )
        return df

    def merge_spy(self, table, updates, *a, **kw):
        sections.append(
            (f"state.merge({table!r}) delta-commit input "
             "[the ONE per-epoch write job]", fmt(updates))
        )
        return orig_merge(self, table, updates, *a, **kw)

    def ice_read_spy(self, table, snapshot_id=None, predicate=None):
        df = orig_ice_read(self, table, snapshot_id, predicate)
        if df is not None:
            sections.append(
                (f"iceberg.read({table!r}, snapshot_id={snapshot_id!r}, "
                 f"predicate={predicate!r}) [merge-on-read]", fmt(df))
            )
        return df

    def parquet_spy(self, path, *a, **kw):
        sections.append(
            (f"parquet.write({os.path.basename(path)!r}) "
             "[commit-file write job]", fmt(self._df))
        )
        return orig_parquet(self, path, *a, **kw)

    LsmStateStore.read = read_spy
    LsmStateStore.merge = merge_spy
    IcebergTableStore.read = ice_read_spy
    DataFrameWriter.parquet = parquet_spy

    # pre-conversion (r15) incremental_join: full-state overwrite writes
    restore_write = None
    try:
        from flink_cdc_spark.streaming.incremental_join import IncrementalJoinView
        if hasattr(IncrementalJoinView, "_write"):
            orig_write = IncrementalJoinView._write

            def write_spy(self, name, epoch, df):
                sections.append(
                    (f"_write({name!r}, v{epoch}) FULL-STATE overwrite "
                     "[O(state) per epoch]", fmt(df))
                )
                return orig_write(self, name, epoch, df)

            IncrementalJoinView._write = write_spy
            restore_write = orig_write
    except ImportError:
        IncrementalJoinView = None

    try:
        df = contract.QUERIES[row](spark, SF_DIR)
        n = df.count()
        final = fmt(df)
    finally:
        LsmStateStore.read = orig_read
        LsmStateStore.merge = orig_merge
        IcebergTableStore.read = orig_ice_read
        DataFrameWriter.parquet = orig_parquet
        if restore_write is not None:
            IncrementalJoinView._write = restore_write

    reads = sum(1 for t, _ in sections if t.startswith("state.read"))
    merges = sum(1 for t, _ in sections if t.startswith("state.merge"))
    writes = sum(1 for t, _ in sections if t.startswith("_write"))
    commits = sum(1 for t, _ in sections if t.startswith("parquet.write"))
    with open(out_path, "w") as f:
        f.write(
            f"{row} — per-epoch state plans captured at sf0.001\n"
            f"rows={n}\n"
            f"state.read (disk merge-on-read resolutions): {reads}\n"
            f"state.merge (O(delta) union-tagged commits):  {merges}\n"
            f"commit-file writes:                           {commits}\n"
            f"full-state overwrite writes (pre-conversion): {writes}\n\n"
        )
        for i, (title, plan) in enumerate(sections):
            f.write(f"===== [{i}] {title} =====\n{plan}\n")
        f.write(f"===== final returned DataFrame =====\n{final}\n")
    print(f"wrote {out_path} ({len(sections)} instrumented sections)")


if __name__ == "__main__":
    main()
