"""Count the Spark jobs, stages, tasks and py4j round trips of one timed
perfbench pass.

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

Driver→JVM py4j round trips are counted in this process too: py4j's
``ClientServerConnection.send_command`` is wrapped, and a call made on
the thread of a ``foreachBatch`` callback counts toward that batch. Every
other call (query start and stop, listener callbacks, reads) counts
outside the epochs. Like job counts, they do not move with host load;
they measure the driver-side cost of building each epoch's plans.

The last line of standard output is one JSON object: ``workload``,
``seed``, ``correct``, ``total`` and ``epochs`` (``{batch: [jobs, stages,
tasks]}``, empty for workloads with no streaming query), and
``round_trips`` (``{"total": n, "epochs": {batch: n}}``).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
from collections import Counter

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


class RoundTrips:
    """Driver→JVM py4j round trips of this process, keyed by the
    ``foreachBatch`` batch whose callback thread made them (``None`` for
    every other call). ``install`` wraps py4j's ``send_command`` and
    PySpark's ``DataStreamWriter.foreachBatch``; it must run before the
    streaming queries start."""

    def __init__(self):
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from pyspark.sql.streaming import DataStreamWriter

        send, foreach = ClientServerConnection.send_command, DataStreamWriter.foreachBatch
        counts, lock, local = self.counts, self._lock, self._local

        def send_command(conn, command):
            with lock:
                counts[getattr(local, "batch", None)] += 1
            return send(conn, command)

        def foreach_batch(writer, func):
            def call(df, batch_id):
                local.batch = batch_id
                try:
                    return func(df, batch_id)
                finally:
                    local.batch = None
            return foreach(writer, call)

        ClientServerConnection.send_command = send_command
        DataStreamWriter.foreachBatch = foreach_batch

    def snapshot(self) -> Counter:
        with self._lock:
            return Counter(self.counts)


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
        trips = RoundTrips()
        trips.install()
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
            trips_before = trips.snapshot()
            wl.run_pass(pass_dir, None)
            pass_trips = trips.snapshot() - trips_before
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
    epoch_trips = {b: n for b, n in pass_trips.items() if b is not None}
    for batch in sorted(set(epochs) | set(epoch_trips)):
        counts = "/".join(map(str, epochs.get(batch, [0, 0, 0])))
        print(f"epoch {batch}: jobs/stages/tasks {counts}, "
              f"py4j round trips {epoch_trips.get(batch, 0)}")
    if outside or pass_trips[None]:
        counts = "/".join(map(str, outside or [0, 0, 0]))
        print(f"outside epochs: jobs/stages/tasks {counts}, "
              f"py4j round trips {pass_trips[None]}")
    n_trips = sum(pass_trips.values())
    print(f"total: jobs/stages/tasks {'/'.join(map(str, total))}, "
          f"py4j round trips {n_trips}, correct={correct}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "correct": correct,
        "total": total, "epochs": epochs,
        **({"outside": outside} if outside else {}),
        "round_trips": {"total": n_trips, "epochs": epoch_trips},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
