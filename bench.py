"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to full execution with a count-style action (no
driver-side row materialization beyond what the operator needs).

Methodology: one untimed warm-up run per query (JVM/codegen/parquet-footer
warmup), then median of 3 timed runs — keeps round-over-round deltas
reproducible within ~20% (a cold first execution can be 10x slower than
steady-state and is not a property of the plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    # pure-Python micro-bench first, before the JVM adds driver load
    jiffies0 = _read_proc_stat()
    selectors = _bench_selectors()

    from flink_cdc_spark import contract
    from flink_cdc_spark.session import get_spark

    spark = get_spark("bench")

    # warm the JVM + parquet footers once with a trivial job
    spark.range(1).count()

    probe = _make_probe()
    # quiet-capability reference: rolling max of every probe reading this
    # run (contention can only lower the probe), seeded before the loop
    probe_ref = max(probe() for _ in range(3))

    timings = {}
    query_steal = {}
    query_probe_ratio = {}
    retimed = {}
    contaminated = []
    retime_budget = _MAX_RETIMES_TOTAL
    for name, fn in contract.queries().items():
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()  # warm-up: untimed
        warm = time.perf_counter() - t0
        # median-of-3 for ordinary queries; the checkpointed-streaming
        # replays are dominated by fixed micro-batch overhead (their
        # variance is tiny and each run is seconds) — one timed run keeps
        # the whole benchmark's wall time bounded as the registry grows
        reps = 1 if warm > 5.0 else 3
        attempts = []
        while True:
            p0 = probe()
            qj0 = _read_proc_stat()
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).count()
                runs.append(time.perf_counter() - t0)
            qh = _host_weather(qj0, _read_proc_stat())
            p1 = probe()
            probe_ref = max(probe_ref, p0, p1)
            win_probe = min(p0, p1)
            win_steal = qh["steal_pct"] if qh is not None else None
            attempts.append({
                "median": sorted(runs)[len(runs) // 2],
                "steal_pct": win_steal,
                "probe": win_probe,
                "clean": _window_clean(win_steal, win_probe, probe_ref),
            })
            if _stop_retiming(attempts, retime_budget):
                break
            retime_budget -= 1
        pick = attempts[_pick_attempt(attempts)]
        timings[name] = round(pick["median"], 3)
        if pick["steal_pct"] is not None:
            query_steal[name] = pick["steal_pct"]
        query_probe_ratio[name] = round(pick["probe"] / probe_ref, 3)
        if len(attempts) > 1:
            retimed[name] = [round(a["median"], 3) for a in attempts]
        if not pick["clean"]:
            contaminated.append(name)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    out = {
        "metric": "pipeline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "selectors_ops_per_ms": selectors,
        "sf": sf,
    }
    host = _host_weather(jiffies0, _read_proc_stat())
    if host is not None:
        # steal-aware calibration (r16): fraction of this run's CPU time
        # stolen by the host, alongside the selector throughput — lets
        # round-over-round comparisons discount ambient-contention runs
        # (this sandbox showed multi-minute steal episodes inflating
        # checkpointed-streaming rows 3-15x on unchanged code)
        out["host"] = host
    if query_steal:
        # per-query steal over each row's timed window — identifies WHICH
        # rows a mid-run contention episode hit; full record only (the
        # printed line has a hard 1900-char budget)
        out["host_query_steal_pct"] = query_steal
    # r17 weather protocol evidence (full record only): per-row probe ratio
    # vs the run's quiet-capability reference, every re-timed row's attempt
    # medians, and rows whose REPORTED window was still contaminated after
    # the bounded retries
    out["host_query_probe_ratio"] = query_probe_ratio
    out["probe_ref_ops_per_ms"] = round(probe_ref, 1)
    if retimed:
        out["retimed"] = retimed
    if contaminated:
        out["contaminated"] = contaminated
    # The complete record goes to BENCH_FULL.json; the printed line must
    # stay under the driver's 2000-char stdout capture or it records an
    # unparseable truncation (round-6 BENCH had parsed=null for exactly
    # this reason). Budget the inline per-query dict slowest-first and
    # summarize the fast remainder.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    # full record only (line budget): the per-query diagnostics; the
    # printed line keeps two compact counters so the captured artifact
    # shows whether the weather protocol fired
    for k in ("host_query_steal_pct", "host_query_probe_ratio", "retimed",
              "contaminated", "probe_ref_ops_per_ms"):
        out.pop(k, None)
    out["retimed_n"] = len(retimed)
    out["contaminated_n"] = len(contaminated)
    line = json.dumps(out)
    if len(line) > 1900:
        ranked = sorted(timings.items(), key=lambda kv: -kv[1])
        shown = dict(ranked)
        while ranked and len(json.dumps({**out, "queries": shown})) > 1800:
            ranked.pop()
            shown = dict(ranked)
        omitted = {k: v for k, v in timings.items() if k not in shown}
        out["queries"] = {k: round(v, 2) for k, v in shown.items()}
        out["queries_omitted"] = len(omitted)
        out["omitted_total_sec"] = round(sum(omitted.values()), 2)
        out["full_record"] = "BENCH_FULL.json"
        line = json.dumps(out)
    print(line)


def _read_proc_stat():
    """Aggregate cpu jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) or None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts and parts[0] == "cpu":
            return [int(x) for x in parts[1:]]
    except (OSError, ValueError):
        pass
    return None


def _host_weather(before, after):
    """Steal/busy percentages over the benchmark window. Steal (field 8)
    is time the hypervisor ran somebody else while this VM was runnable
    — the direct measure of the ambient contention that inflated
    checkpointed-streaming rows in r14-r16 bench readings."""
    if before is None or after is None:
        return None
    n = min(len(before), len(after))
    delta = [a - b for b, a in zip(before[:n], after[:n])]
    # fields 9-10 (guest, guest_nice) are already folded into user/nice by
    # the kernel — summing them would double-count guest time and deflate
    # the percentages on guest-hosting machines (ADVICE r16)
    total = sum(delta[:8])
    if total <= 0:
        return None
    steal = delta[7] if len(delta) > 7 else 0
    idle = delta[3] if len(delta) > 3 else 0
    iowait = delta[4] if len(delta) > 4 else 0
    return {
        "steal_pct": round(100.0 * steal / total, 2),
        "busy_pct": round(100.0 * (total - idle - iowait - steal) / total, 2),
    }


# --- mid-run weather protocol (r17, VERDICT r16 item 1) -------------------
# The r14-r16 rounds showed multi-minute host-contention episodes that hit
# individual timed windows 3-15x while the start-of-run selector stayed
# normal.  Each query's timed window is therefore bracketed by a ~10ms
# pure-Python probe plus a /proc/stat steal reading, and a window that shows
# either steal above _STEAL_MAX_PCT or probe throughput below
# _PROBE_RATIO_MIN of the run's best observed throughput is re-timed
# (bounded per query and globally).  The chosen value is still the same
# warm median-of-reps as before — re-timing only selects WHICH window the
# median is taken from, and every attempt is flagged in BENCH_FULL.json.
_STEAL_MAX_PCT = 1.5
_PROBE_RATIO_MIN = 0.75
_MAX_RETIMES_PER_QUERY = 2
_MAX_RETIMES_TOTAL = 30
_RETIME_MIN_SEC = 1.0


def _make_probe(ops: int = 12_000):
    """A ~10ms single-thread throughput probe (the cached-selector op, same
    unit as the recorded selector reading): ambient contention can only
    LOWER it, so min(before, after) over a timed window detects an episode
    that hit the window, and the rolling max estimates quiet capability."""
    from flink_cdc_spark.core.selectors import Selectors
    from flink_cdc_spark.core.table_id import TableId

    patterns = (
        r"db1.sc1.tbl1, db1.sc2.\.*, db2.\.*.orders, "
        r"inventory.products, logs_\.*.events_\d+, exact.schema.table"
    )
    ids = [
        TableId.parse("db1.sc1.tbl1"),
        TableId.parse("db1.sc2.anything"),
        TableId.parse("db2.any.orders"),
        TableId.parse("inventory.products"),
        TableId.parse("logs_7.events_42"),
        TableId.parse("no.match.here"),
    ]
    sel = Selectors(patterns)
    for tid in ids:
        sel.is_match(tid)

    def probe() -> float:
        t0 = time.perf_counter()
        for _ in range(ops):
            for tid in ids:
                sel.is_match(tid)
        return ops / ((time.perf_counter() - t0) * 1000)  # ops per ms

    return probe


def _window_clean(steal_pct, probe, ref,
                  steal_max=_STEAL_MAX_PCT, ratio_min=_PROBE_RATIO_MIN):
    """Was a timed window free of detectable host contention?  steal_pct
    may be None (no /proc/stat); the probe check still applies."""
    if steal_pct is not None and steal_pct > steal_max:
        return False
    return not (ref > 0 and probe < ratio_min * ref)


def _stop_retiming(attempts, budget) -> bool:
    """Is the last attempt final?  Yes when its window was clean, when the
    query has used its re-times or the run its ``budget``, or when the
    reading is under _RETIME_MIN_SEC: such a row cannot move the total, so
    it never spends the budget (the first r17 protocol run burned ~13 of
    30 re-times on rows of 0.4-1.4s, and had none left when a 20%-steal
    episode hit a 37s reading of kafka_source_topic_replay)."""
    last = attempts[-1]
    return (last["clean"]
            or len(attempts) > _MAX_RETIMES_PER_QUERY
            or budget <= 0
            or last["median"] < _RETIME_MIN_SEC)


def _pick_attempt(attempts):
    """Index of the attempt to report: the first clean one, else the one
    with the LOWEST median.  For a fixed workload ambient contention can
    only ADD time, so among dirty windows the fastest median is the
    least-contaminated estimate — the first r17 protocol run showed that
    trusting the bracket probes instead picks windows a mid-window burst
    hit (es_bulk reported a 5.35s window over same-run 2.80/2.99s ones:
    the probes bracket the window, they don't see inside it).
    `attempts` rows: {"median","steal_pct","probe"} + "clean"."""
    for i, a in enumerate(attempts):
        if a["clean"]:
            return i
    return min(range(len(attempts)), key=lambda i: attempts[i]["median"])


def _bench_selectors():
    """Table-selector throughput, same shape as the reference's JMH
    SelectorsBenchmark (BASELINE.md rows 1-2): one op = matching 6
    TableIds against a 6-pattern selector; 'cached' reuses a built
    Selectors (memoised matches), 'uncached' rebuilds it every op."""
    from flink_cdc_spark.core.selectors import Selectors
    from flink_cdc_spark.core.table_id import TableId

    # dialect note: unescaped '.' separates TableId parts; regex-dot is '\.'
    patterns = (
        r"db1.sc1.tbl1, db1.sc2.\.*, db2.\.*.orders, "
        r"inventory.products, logs_\.*.events_\d+, exact.schema.table"
    )
    ids = [
        TableId.parse("db1.sc1.tbl1"),
        TableId.parse("db1.sc2.anything"),
        TableId.parse("db2.any.orders"),
        TableId.parse("inventory.products"),
        TableId.parse("logs_7.events_42"),
        TableId.parse("no.match.here"),
    ]
    sel = Selectors(patterns)
    for tid in ids:  # warm the memo + regex engine
        sel.is_match(tid)

    def run_once(build_each_op: bool, ops: int) -> float:
        t0 = time.perf_counter()
        for _ in range(ops):
            s = Selectors(patterns) if build_each_op else sel
            for tid in ids:
                s.is_match(tid)
        dt = time.perf_counter() - t0
        return ops / (dt * 1000)  # ops per millisecond

    def run(build_each_op: bool, ops: int) -> dict:
        # Report BOTH median and max of 5 reps (after a warmup rep):
        # ambient CPU contention can only LOWER a pure-Python throughput
        # number, so the max estimates the code's capability, while the
        # median is the honest steady-state figure — silently switching
        # the recorded metric to best-of-N overstates it (r8 verdict #4).
        run_once(build_each_op, max(ops // 10, 1))
        reps = sorted(run_once(build_each_op, ops) for _ in range(5))
        return {"median": round(reps[2], 1), "max": round(reps[-1], 1)}

    cached, uncached = run(False, 200_000), run(True, 20_000)
    return {
        # headline numbers stay comparable with prior rounds (max), with
        # the steady-state median alongside
        "cached": cached["max"],
        "cached_median": cached["median"],
        "uncached": uncached["max"],
        "uncached_median": uncached["median"],
    }


if __name__ == "__main__":
    main()
