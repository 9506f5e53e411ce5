"""Count the Spark jobs, stages and tasks of one timed perfbench pass.

    python scripts/count_epoch_jobs.py WORKLOAD [--seed N]

Runs the workload the way ``perfbench/run.py`` does (same launch settings,
set-up and warm-up pass), then ONE untraced timed pass, and reads the
jobs that pass ran from Spark's status store: nothing is wrapped, cached
or forced, so the counts are those of an ordinary run. Streaming jobs are
split per epoch by the ``batch = N`` job description Structured Streaming
sets for each trigger; jobs outside any trigger (query start and stop, a
poll's reads) are reported on their own line. Job, stage and task counts
do not move with host contention, so they compare two trees where wall
times cannot. The pass's final state is checked against DuckDB as in a
benchmark run.

The last line of standard output is one JSON object: ``workload``,
``seed``, ``correct``, ``total`` and ``epochs`` (``{batch: [jobs, stages,
tasks]}``, empty for workloads with no streaming query).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BATCH = re.compile(r"^batch = (\d+)$", re.M)


def jobs_by_id(spark) -> dict:
    """{job id: (batch or None, stages run, tasks run)} for every job the
    status store holds. Skipped stages (shuffle output reused) ran
    nothing and are not counted."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out = {}
    it = sc._jsc.sc().statusStore().jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        desc = j.description()
        m = _BATCH.search(desc.get()) if desc.isDefined() else None
        out[j.jobId()] = (
            int(m.group(1)) if m else None,
            j.numCompletedStages() + j.numFailedStages(),
            j.numCompletedTasks() + j.numFailedTasks() + j.numKilledTasks(),
        )
    return out


def census(jobs) -> tuple:
    """(total, per-epoch) counts, each ``[jobs, stages, tasks]``."""
    total, epochs = [0, 0, 0], {}
    for batch, stages, tasks in jobs:
        for acc in (total, epochs.setdefault(batch, [0, 0, 0])):
            acc[0] += 1
            acc[1] += stages
            acc[2] += tasks
    return total, epochs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.run import pin_environment

    work_dir = os.path.join(ROOT, ".perfbench_work", f"census-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        pin_environment(work_dir)  # before pyspark starts the JVM
        import duckdb

        from perfbench import harness
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"WORKLOAD must be one of {', '.join(sorted(WORKLOADS))}")
        cls = WORKLOADS[args.workload]
        spark = harness.start_spark()
        wl = None
        try:
            listener = harness.EpochListener()
            spark.streams.addListener(listener.listener)
            wl = cls(spark, os.path.join(work_dir, "inputs"), args.seed, listener)
            wl.prepare()
            con = duckdb.connect()
            expected = wl.reference(con)
            harness.warm_up(cls, spark, args.seed, work_dir, listener)
            pass_dir = os.path.join(work_dir, "pass1")
            os.makedirs(pass_dir)
            before = set(jobs_by_id(spark))
            wl.run_pass(pass_dir, None)
            after = jobs_by_id(spark)
            correct = wl.output_digest(con, pass_dir) == expected
            con.close()
        finally:
            if wl is not None:
                wl.close()
            harness.stop_spark(spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    total, epochs = census(v for k, v in sorted(after.items()) if k not in before)
    outside = epochs.pop(None, None)
    for batch in sorted(epochs):
        print(f"epoch {batch}: jobs/stages/tasks {'/'.join(map(str, epochs[batch]))}")
    if outside:
        print(f"outside epochs: jobs/stages/tasks {'/'.join(map(str, outside))}")
    print(f"total: jobs/stages/tasks {'/'.join(map(str, total))}, correct={correct}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "correct": correct,
        "total": total, "epochs": epochs,
        **({"outside": outside} if outside else {}),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
