"""Run one workload of the CDC pipeline benchmark and print its metrics.

    python3 perfbench/run.py --workload snapshot_batch --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Every file the run writes stays
under ``.perfbench_work/`` in the checkout; the run's scratch directory is
removed at the end, and traced runs keep their spans in
``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "1g"


def pin_environment(work_dir: str) -> None:
    """Launch settings for the Spark driver, set before pyspark starts the
    JVM: one core per available CPU, a bounded heap, and every scratch
    directory (Spark local dirs, JVM and Python temp, warehouse) under the
    run's work directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    local = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    try:
        # before the package loads: its session module reads the launch
        # settings at import time
        pin_environment(work_dir)
        sys.path.insert(0, ROOT)
        from perfbench import harness
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {', '.join(sorted(WORKLOADS))}")
        spans_path = None
        if args.trace:
            os.makedirs(os.path.join(base, "spans"), exist_ok=True)
            spans_path = os.path.join(
                base, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            open(spans_path, "w").close()  # passes append; a rerun starts afresh
        result = harness.run(
            WORKLOADS[args.workload], args.seed, args.seconds, work_dir, spans_path)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
