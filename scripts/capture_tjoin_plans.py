"""Capture the streaming temporal join's PER-EPOCH state-read plans —
the plans the bench row actually pays for, which live inside
foreachBatch and are invisible to the final-read audit. Used for the
round-16 optimization evidence (plans/r16/streaming_temporal_join_scd2
_before/_after.txt): the before shape re-resolves the LSM history from
disk twice per epoch (multi-commit scan + pk-window Exchange); the
after shape serves both reads from the carried in-memory frame.

Usage: python scripts/capture_tjoin_plans.py OUT.txt
Runs the registry row end-to-end at sf0.001 with instrumented reads.
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
    out_path = sys.argv[1]
    from flink_cdc_spark import contract
    from flink_cdc_spark.session import get_spark
    from flink_cdc_spark.sinks.lsm_store import LsmStateStore
    from flink_cdc_spark.operators import temporal_join as tj_op

    spark = get_spark("capture_tjoin_plans")
    sections = []

    # record every LSM history read the machine performs, labelled by
    # call site (fold vs enrichment) and epoch
    orig_read = LsmStateStore.read
    orig_join = tj_op.temporal_join

    def read_spy(self, table, predicate=None):
        df = orig_read(self, table, predicate=predicate)
        if df is not None and table == "hist":
            sections.append(
                ("state.read(hist) [merge-on-read from disk]", fmt(df))
            )
        return df

    def join_spy(probe, history, **kw):
        sections.append(("enrichment input: history frame", fmt(history)))
        return orig_join(probe, history, **kw)

    LsmStateStore.read = read_spy
    tj_op.temporal_join = join_spy
    try:
        df = contract.QUERIES["streaming_temporal_join_scd2"](spark, SF_DIR)
        n = df.count()
        final = fmt(df)
    finally:
        LsmStateStore.read = orig_read
        tj_op.temporal_join = orig_join

    with open(out_path, "w") as f:
        f.write(
            "streaming_temporal_join_scd2 — plans captured at sf0.001\n"
            f"rows={n}\n"
            "Per-epoch plans below are in execution order (3 epochs; the\n"
            "machine folds the dim delta then enriches the epoch's probes).\n"
            f"state.read(hist) calls observed: "
            f"{sum(1 for t, _ in sections if t.startswith('state.read'))}\n\n"
        )
        for i, (title, plan) in enumerate(sections):
            f.write(f"===== [{i}] {title} =====\n{plan}\n")
        f.write(f"===== final returned DataFrame (enriched read) =====\n{final}\n")
    print(f"wrote {out_path} ({len(sections)} instrumented sections)")


if __name__ == "__main__":
    main()
