"""The bench's mid-run weather protocol (r17, VERDICT r16 item 1):
pure-Python pins for the window-clean decision, the attempt picker, and
the guest-jiffy fix in _host_weather."""

import bench


def test_window_clean_accepts_quiet_window():
    assert bench._window_clean(0.1, 1100.0, 1170.0)


def test_window_clean_rejects_steal_episode():
    assert not bench._window_clean(4.5, 1100.0, 1170.0)


def test_window_clean_rejects_probe_collapse():
    # selector collapse 998 -> 418 with ZERO steal (r16 characterization:
    # hypervisor throttling invisible to the guest's steal counter)
    assert not bench._window_clean(0.0, 418.0, 998.0)


def test_window_clean_probe_only_when_no_proc_stat():
    assert bench._window_clean(None, 1100.0, 1170.0)
    assert not bench._window_clean(None, 418.0, 998.0)


def test_window_clean_boundary_uses_ratio_min():
    ref = 1000.0
    assert bench._window_clean(0.0, bench._PROBE_RATIO_MIN * ref, ref)
    assert not bench._window_clean(0.0, bench._PROBE_RATIO_MIN * ref - 1, ref)


def test_pick_attempt_prefers_first_clean():
    attempts = [
        {"median": 9.0, "steal_pct": 5.0, "probe": 500.0, "clean": False},
        {"median": 3.1, "steal_pct": 0.1, "probe": 1100.0, "clean": True},
        {"median": 3.0, "steal_pct": 0.0, "probe": 1150.0, "clean": True},
    ]
    assert bench._pick_attempt(attempts) == 1


def test_pick_attempt_falls_back_to_min_median():
    # all windows dirty: contamination only ADDS time, so the fastest
    # median is the least-contaminated estimate — even when a slower
    # window's bracket probes looked cleaner (the probes can't see a
    # mid-window burst; observed in the first r17 protocol run)
    attempts = [
        {"median": 9.0, "steal_pct": 5.0, "probe": 500.0, "clean": False},
        {"median": 7.0, "steal_pct": 2.0, "probe": 800.0, "clean": False},
        {"median": 5.3, "steal_pct": 3.0, "probe": 700.0, "clean": False},
    ]
    assert bench._pick_attempt(attempts) == 2


def test_retime_min_sec_guards_the_budget():
    # sub-second rows are excluded from re-timing so the bounded global
    # budget stays available for rows whose absolute distortion matters
    # (the first r17 protocol run burned ~13/30 retries on 0.4-1.4s rows
    # and had none left for a 37s steal-episode reading)
    assert bench._RETIME_MIN_SEC == 1.0


def test_unclean_sub_second_reading_stops_without_spending_budget():
    dirty = {"steal_pct": 5.0, "probe": 500.0, "clean": False}
    budget = bench._MAX_RETIMES_TOTAL
    # below the floor: final at once, so the loop never spends the budget
    assert bench._stop_retiming([{**dirty, "median": 0.6}], budget)
    # the same dirty window on a longer row is re-timed ...
    assert not bench._stop_retiming([{**dirty, "median": 1.5}], budget)
    # ... until the query's re-times or the run's budget run out
    assert bench._stop_retiming(
        [{**dirty, "median": 1.5}] * (bench._MAX_RETIMES_PER_QUERY + 1), budget)
    assert bench._stop_retiming([{**dirty, "median": 1.5}], 0)
    assert bench._stop_retiming([{**dirty, "median": 1.5, "clean": True}], budget)


def test_probe_runs_fast_and_returns_throughput():
    import time

    probe = bench._make_probe(ops=2_000)
    t0 = time.perf_counter()
    x = probe()
    dt = time.perf_counter() - t0
    assert x > 0
    assert dt < 1.0  # a probe must stay negligible next to a timed query


def test_host_weather_excludes_guest_jiffies():
    # user nice system idle iowait irq softirq steal guest guest_nice
    # guest time is already inside user (kernel accounting); the totals
    # must not double-count it (ADVICE r16)
    before = [100, 0, 100, 700, 50, 0, 0, 50, 0, 0]
    after = [200, 0, 200, 1200, 100, 0, 0, 300, 999999, 999999]
    hw = bench._host_weather(before, after)
    assert hw == {"steal_pct": 25.0, "busy_pct": 20.0}
