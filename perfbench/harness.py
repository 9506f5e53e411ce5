"""Run loop shared by the workloads: Spark session, set-up, warm-up, timed
passes, output check, metrics and tear-down.

A run is a closed loop from one driver process: a pass starts only when the
previous one has committed. Timed passes repeat while the next one still
fits in ``--seconds``, and there are always at least the workload's
``MIN_PASSES``. An untimed warm-up pass comes first, over inputs made from
the same seed at the workload's ``WARMUP_SCALE``, so JIT compilation and
lazy set-up inside Spark are not charged to the timed passes.
"""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

import duckdb

from .trace import LAYERS, Instrumentation, Tracer, self_times, subtree_totals

SETUP_REPS = 3


@dataclass
class PassResult:
    """What one pass measured."""

    events: int  # change events applied
    apply_s: float  # time spent applying them (reads excluded)
    epochs: list  # latency of each epoch or poll, start to commit (s)
    ops: int  # operations attempted: epochs, polls, batch loads and reads
    # jdbc only: latency of each full current-state read, and pass start to
    # committed initial state (s)
    reads: list = field(default_factory=list)
    snapshot_s: Optional[float] = None
    ok: bool = True  # final state matched the DuckDB reference
    # streaming passes: listener durationMs per trigger, in commit order
    triggers: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.apply_s + sum(self.reads)


def log(msg: str) -> None:
    """Progress line on standard error; standard output carries the result."""
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def span(tracer: Optional[Tracer], name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def full_read(df) -> None:
    """Materialize every column of every row without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


class EpochListener:
    """Collects per-trigger ``durationMs`` of every streaming query."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    with lock:
                        progress.append(dict(p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def mark(self) -> int:
        with self._lock:
            return len(self.progress)

    def since(self, mark: int, expected: int, timeout: float = 30.0) -> list:
        """Progress reports after ``mark``; waits for ``expected`` of them,
        because the listener bus delivers them asynchronously."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                got = self.progress[mark:]
            if len(got) >= expected or time.monotonic() > deadline:
                if len(got) < expected:
                    raise RuntimeError(
                        f"expected {expected} trigger reports, got {len(got)}"
                    )
                return got
            time.sleep(0.02)


# -- process tree ------------------------------------------------------------


def _children() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_bytes() -> int:
    """Peak resident memory of this process plus that of its largest
    descendant (the Spark JVM), as the kernel recorded them. Only
    descendants that have ended and been waited for count, so call it after
    ``stop_spark``. Kernel peaks, unlike sampling, miss no short peak and
    never count a page twice while a process forks."""
    return 1024 * (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    )


# -- Spark lifecycle -----------------------------------------------------------


def start_spark():
    from flink_cdc_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, 0)


# -- metrics -------------------------------------------------------------------


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(passes, session_s: float, prep_s: list, peak_rss: int) -> dict:
    """Every workload's metrics, plus ``read_p50_s`` and ``snapshot_s`` for
    the workloads that time reads and a snapshot (``jdbc_tail_read``)."""
    out = {
        "events_per_s": (sum(p.events for p in passes) / sum(p.apply_s for p in passes), "1/s"),
        "epoch_p50_s": (_median([e for p in passes for e in p.epochs]), "s"),
        "setup_s": (session_s + _median(prep_s), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    if passes[0].reads:
        out["read_p50_s"] = (_median([r for p in passes for r in p.reads]), "s")
    if passes[0].snapshot_s is not None:
        out["snapshot_s"] = (_median([p.snapshot_s for p in passes]), "s")
    return out


def per_layer(traced, untraced, spans_per_pass, failed: int, attempted: int) -> dict:
    """Per-layer metrics, averaged over the traced passes."""
    n = len(traced)
    out: dict = {}

    def mean_of(fn):
        return sum(fn(spans, p) for spans, p in zip(spans_per_pass, traced)) / n

    def dur(name):
        return mean_of(lambda spans, _: sum(s.duration for s in spans if s.name == name))

    def count(name):
        return mean_of(lambda spans, _: sum(1 for s in spans if s.name == name))

    def attr(name, key):
        return mean_of(lambda spans, _: sum(s.attrs.get(key, 0) for s in spans if s.name == name))

    selfs = [self_times(spans) for spans in spans_per_pass]
    # Structured Streaming's own time per trigger, outside the batch body
    # (which the process_batch / epoch-merge span covers), as the listener
    # reports it
    trigger_overhead = [
        sum(t["triggerExecution"] - t.get("addBatch", 0) for t in p.triggers) / 1000
        for p in traced
    ]
    for layer in LAYERS:
        out[f"{layer}.self_s"] = (sum(
            sum(st[s.id] for s in spans if s.layer == layer)
            for spans, st in zip(spans_per_pass, selfs)
        ) / n, "s")
        for kind in ("jobs", "stages", "tasks"):
            out[f"{layer}.{kind}"] = (mean_of(
                lambda spans, _, k=kind, l=layer: sum(getattr(s, k) for s in spans if s.layer == l)
            ), "count")
    out["streaming.self_s"] = (out["streaming.self_s"][0] + sum(trigger_overhead) / n, "s")

    out["sources.jdbc.snapshot_s"] = (dur("sources.jdbc.snapshot"), "s")
    out["sources.jdbc.snapshot_tasks"] = (mean_of(
        lambda spans, _: sum(subtree_totals(spans, "sources.jdbc.snapshot", "tasks"))
    ), "count")
    out["sources.jdbc.log_read_s"] = (dur("sources.jdbc.log_read"), "s")
    out["sources.jdbc.ddl_probe_s"] = (dur("sources.jdbc.ddl_probe"), "s")
    out["sources.wire.decode_s"] = (dur("sources.wire.decode"), "s")
    out["sources.parquet.changelog_s"] = (dur("sources.parquet.changelog"), "s")
    out["expressions.compile_s"] = (dur("expressions.compile"), "s")
    out["expressions.compiles"] = (count("expressions.compile"), "count")
    out["operators.transform.apply_s"] = (dur("operators.transform.apply"), "s")
    out["operators.transform.rows_in"] = (attr("operators.transform.apply", "rows_in"), "count")
    out["operators.transform.rows_out"] = (attr("operators.transform.apply", "rows_out"), "count")
    out["operators.coerce_s"] = (dur("operators.coerce"), "s")
    out["pipeline.schema.ddl_s"] = (dur("pipeline.schema.ddl"), "s")
    out["pipeline.schema.ddl_events"] = (count("pipeline.schema.ddl"), "count")
    out["pipeline.compose.materialize_s"] = (dur("pipeline.compose.materialize"), "s")
    out["pipeline.cdc.repair_s"] = (dur("pipeline.cdc.repair"), "s")

    triggers = [t for p in traced for t in p.triggers]
    out["streaming.trigger_overhead_s"] = (_median(
        [(t["triggerExecution"] - t.get("addBatch", 0)) / 1000 for t in triggers]
    ), "s")
    out["streaming.batch_body_s"] = (_median(
        [t.get("addBatch", 0) / 1000 for t in triggers]
    ), "s")
    out["streaming.query_start_stop_s"] = (_median([
        p.apply_s - sum(t["triggerExecution"] for t in p.triggers) / 1000
        for p in traced if p.triggers
    ]), "s")
    out["streaming.jobs_per_epoch"] = (_median(
        [j for spans in spans_per_pass for j in subtree_totals(spans, "streaming.epoch", "jobs")]
    ), "count")
    out["streaming.tasks_per_epoch"] = (_median(
        [t for spans in spans_per_pass for t in subtree_totals(spans, "streaming.epoch", "tasks")]
    ), "count")
    out["streaming.epoch_growth"] = (_median(
        [_growth(p.epochs) for p in untraced if p.triggers]
    ), "ratio")

    out["sinks.lsm.merge_s"] = (sum(
        sum(st[s.id] for s in spans if s.name == "sinks.lsm.merge")
        for spans, st in zip(spans_per_pass, selfs)
    ) / n, "s")
    out["sinks.lsm.commits"] = (count("sinks.lsm.merge"), "count")
    out["sinks.lsm.compact_s"] = (dur("sinks.lsm.compact"), "s")
    out["sinks.lsm.compactions"] = (count("sinks.lsm.compact"), "count")
    out["sinks.lsm.read_s"] = (dur("sinks.lsm.read"), "s")
    reads = [s for spans in spans_per_pass for s in spans if s.name == "sinks.lsm.read"]
    out["sinks.lsm.deltas_per_read"] = (
        _median([s.attrs.get("deltas", 0) for s in reads]), "count")
    out["sinks.lsm.state_bytes"] = (
        max([s.attrs.get("state_bytes", 0) for s in reads], default=0), "bytes")
    out["sinks.parquet.write_s"] = (dur("sinks.parquet.write"), "s")

    traced_wall = sum(p.wall_s for p in traced) / n
    covered = sum(out[f"{layer}.self_s"][0] for layer in LAYERS)
    out["trace.coverage"] = (covered / traced_wall, "ratio")
    out["trace.overhead"] = (
        _median([p.wall_s for p in traced]) / _median([p.wall_s for p in untraced]), "ratio")
    out["fail_ratio"] = (failed / attempted, "ratio")
    return out


def _growth(epochs) -> float:
    """Mean of the last three epochs before the compacting one over the
    mean of the first three (epochs are in commit order; the compaction
    lands in every ``compact_every``-th commit)."""
    pre = epochs[:7]
    return (sum(pre[-3:]) / 3) / (sum(pre[:3]) / 3)


# -- the run -------------------------------------------------------------------


def warm_up(workload_cls, spark, seed: int, work_dir: str, listener) -> None:
    """One untimed, unchecked pass over inputs at ``WARMUP_SCALE``."""
    wl = workload_cls(spark, os.path.join(work_dir, "warmup"), seed, listener,
                      scale=workload_cls.WARMUP_SCALE)
    try:
        wl.prepare()
        pass_dir = os.path.join(work_dir, "pass0")
        os.makedirs(pass_dir)
        p = wl.warm_up_pass(pass_dir)
    finally:
        wl.close()
    log(f"warm-up: apply {p.apply_s:.2f}s, epochs {[round(e, 2) for e in p.epochs]}")
    shutil.rmtree(os.path.join(work_dir, "warmup"), ignore_errors=True)
    shutil.rmtree(pass_dir, ignore_errors=True)


def run(workload_cls, seed: int, seconds: float, work_dir: str,
        spans_path: Optional[str] = None) -> dict:
    """One run: set-up, warm-up, then timed passes while the next one fits
    in ``seconds`` (at least ``MIN_PASSES``). With ``spans_path`` every
    timed pass is followed by a traced one, whose spans are appended to
    that file."""
    trace = spans_path is not None
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    wl = None
    try:
        listener = EpochListener()
        spark.streams.addListener(listener.listener)
        wl = workload_cls(spark, os.path.join(work_dir, "inputs"), seed, listener)
        prep_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep_s.append(time.perf_counter() - t)
        log(f"session {session_s:.2f}s, inputs {[round(x, 2) for x in prep_s]}")
        con = duckdb.connect()
        expected = wl.reference(con)

        def one_pass(i: int, tracer=None) -> PassResult:
            pass_dir = os.path.join(work_dir, f"pass{i}")
            os.makedirs(pass_dir)
            if tracer is None:
                p = wl.run_pass(pass_dir, None)
            else:
                with Instrumentation(tracer):
                    p = wl.run_pass(pass_dir, tracer)
                tracer.release()
                tracer.count_jobs()
                tracer.write(spans_path, i)
            p.ok = wl.output_digest(con, pass_dir) == expected
            log(f"pass {i}{' traced' if tracer else ''}: {p.events} events, "
                f"apply {p.apply_s:.2f}s, reads {sum(p.reads):.2f}s, "
                f"epochs {[round(e, 2) for e in p.epochs]}, ok={p.ok}")
            shutil.rmtree(pass_dir, ignore_errors=True)
            return p

        warm_up(workload_cls, spark, seed, work_dir, listener)
        untraced, traced, spans_per_pass = [], [], []
        measured = 0.0
        while (len(untraced) < workload_cls.MIN_PASSES
               or measured * (1 + 1 / len(untraced)) <= seconds):
            untraced.append(one_pass(len(untraced) + len(traced) + 1))
            measured += untraced[-1].wall_s
            if trace:
                tracer = Tracer(spark)
                traced.append(one_pass(len(untraced) + len(traced) + 1, tracer))
                spans_per_pass.append(tracer.spans)
        con.close()
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)

    measured = untraced + traced
    attempted = sum(p.ops for p in measured)
    failed = sum(p.ops for p in measured if not p.ok)
    if trace:
        metrics = per_layer(traced, untraced, spans_per_pass, failed, attempted)
    else:
        metrics = end_to_end(untraced, session_s, prep_s, peak_rss_bytes())
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
