"""Unit tests for bench.py's measurement policies (no Spark needed).

The bench number is a judged artifact, so its guards get the same test
discipline as query plans: a contended attempt must retry (up to the
attempt budget) and the kept record must be chosen by suite steal, never
by the timing metric itself — a clean-gate regression must surface as a
real delta, not get silently retried away, and a retry must never turn
into keep-the-fastest cherry-picking.
"""

from __future__ import annotations

import bench


def test_retry_fires_only_when_contended_with_budget():
    """r10 verdict order: a contended attempt retries unconditionally
    (no deviation-vs-prior test — r9/r10's official records were both
    plausible-but-contaminated), up to MAX_SUITE_ATTEMPTS total runs."""
    assert not bench.should_retry_suite(False, 1)  # clean first run: done
    assert bench.should_retry_suite(True, 1)
    assert bench.should_retry_suite(True, 2)
    assert not bench.should_retry_suite(True, 3)   # budget exhausted
    assert not bench.should_retry_suite(False, 2)  # clean retry: stop early
    assert bench.MAX_SUITE_ATTEMPTS == 3


def test_retry_respects_wall_clock_budget():
    """An external runner that kills an overlong bench records NOTHING —
    so a retry must not start once the measurement has already consumed
    the wall budget, even on a contended attempt."""
    assert bench.should_retry_suite(True, 1, elapsed_sec=100.0)
    assert not bench.should_retry_suite(
        True, 1, elapsed_sec=bench.SUITE_BUDGET_SEC
    )
    assert not bench.should_retry_suite(True, 1, elapsed_sec=99.0, budget_sec=99.0)
    # the wall budget never FORCES a retry a clean attempt wouldn't take
    assert not bench.should_retry_suite(False, 1, elapsed_sec=0.0)


def test_pick_suite_attempt_selects_lowest_steal_never_fastest():
    """Selection is by steal only — the function never even receives
    the totals, so keeping-the-fastest-of-three (metric cherry-picking)
    is structurally impossible."""
    assert bench.pick_suite_attempt([2.5, 0.1, 0.4]) == 1
    assert bench.pick_suite_attempt([5.44, 3.2, 0.13]) == 2
    assert bench.pick_suite_attempt([0.3]) == 0


def test_pick_suite_attempt_tie_keeps_earliest():
    """Equal (contended, steal) rankings keep the EARLIEST attempt,
    matching the single-run protocol of prior rounds (attempt 1 is the
    one whose entry wait used the full MAX_WAIT_SEC budget)."""
    assert bench.pick_suite_attempt([0.0, 0.0, 0.0]) == 0
    assert bench.pick_suite_attempt([0.5, 0.2, 0.2]) == 1
    # ties within the same contended class also keep the earliest
    assert (
        bench.pick_suite_attempt([0.2, 0.2, 0.2], [True, False, False]) == 1
    )


def test_pick_suite_attempt_clean_beats_contended():
    """r11 advisor (medium): contention can be load- or gate-timeout-
    based with ~0% steal, and the loop only retries after a contended
    attempt — so the clean attempt can only be the FINAL one. A
    0.00%-steal load-dirty attempt 1 must lose to a clean retry even
    when the retry's steal reading is higher."""
    # the advisor's exact scenario: dirty 0.00 vs clean 0.1
    assert bench.pick_suite_attempt([0.0, 0.1], [True, False]) == 1
    assert bench.pick_suite_attempt([0.0, 0.0, 0.3], [True, True, False]) == 2
    # all contended: fall back to lowest steal (the r10 behavior)
    assert bench.pick_suite_attempt([5.44, 3.2, 0.9], [True, True, True]) == 2
    # all clean (hypothetical): still lowest steal, earliest on ties
    assert bench.pick_suite_attempt([0.4, 0.1], [False, False]) == 1


def test_contended_keys_on_entry_gate_or_end_load():
    """r5 postmortem: the entry gate can pass on a momentary load dip —
    a suite that ENDS well above the gate is just as uninterpretable as
    one whose gate timed out, and must arm the re-run guard. The end
    reading is judged against gate + self-load allowance (measured r6
    on a truly idle box: entry 1.11 -> end 1.36, i.e. self-load ~0.3;
    the allowance keeps headroom without blessing real neighbors)."""
    assert bench.is_contended(True, 0.0, max_load=2.0)  # gate gave up
    # a clean run's shape: end barely above entry
    assert not bench.is_contended(False, 1.36, max_load=2.0)
    # mid-suite contention the entry gate missed (the r5 worry)
    assert bench.is_contended(False, 4.5, max_load=2.0)
    # boundary: exactly at gate + allowance is clean, strictly-above arms
    assert not bench.is_contended(False, 4.0, max_load=2.0)


def test_contended_keys_on_host_steal():
    """r9 postmortem: a microVM neighbor is invisible to loadavg (entry
    load 1.93 UNDER the gate) but stretched the 32-thread queries 2-4x;
    suite-level steal above MAX_STEAL_PCT must arm the re-run guard on
    its own. Idle steal measures 0.0-0.03%; the r9 bad runs read
    0.58-3.27%; the r15 ABAB bisect (SCALE.md §23) found the r14 ~20%
    cold-band drift at 0.28-0.44% — under the old 0.5 gate — so the
    gate tightened to 0.25."""
    # the r9 bad run: clean load, steal 3.27%
    assert bench.is_contended(False, 1.9, max_load=2.0, steal_pct=3.27)
    # the r8 driver run: clean load, zero steal
    assert not bench.is_contended(False, 1.9, max_load=2.0, steal_pct=0.0)
    # the r14 drift draws (0.28-0.44%) must now arm the guard
    assert bench.is_contended(False, 1.9, max_load=2.0, steal_pct=0.28)
    assert bench.is_contended(False, 1.9, max_load=2.0, steal_pct=0.44)
    # boundary: exactly at the steal gate is clean, strictly-above arms
    assert not bench.is_contended(False, 1.9, max_load=2.0, steal_pct=0.25)
    assert bench.is_contended(False, 1.9, max_load=2.0, steal_pct=0.26)


def test_contended_keys_on_start_load():
    """r12 judge finding #1: the entry gate samples until a reading
    <= MAX_LOAD, so it can pass on a momentary DIP and the suite then
    starts half-busy — r12's official record started at loadavg 2.1
    (above the 2.0 gate) yet counted clean because end-load and steal
    were fine. A start reading above gate + a small jitter epsilon must
    arm contention on its own."""
    # the r12 official record's exact shape: dip-pass start 2.1,
    # clean end 1.86, clean steal 0.12% -> must now read contended
    # (epsilon is 0.05, NOT the judge's illustrative 0.2, which would
    # leave this exact case clean — see START_LOAD_EPSILON's comment)
    assert bench.is_contended(
        False, 1.86, max_load=2.0, steal_pct=0.12, load_at_start=2.1
    )
    # jitter band: start within gate + epsilon stays clean
    assert not bench.is_contended(
        False, 1.86, max_load=2.0, steal_pct=0.12, load_at_start=2.05
    )
    assert bench.is_contended(
        False, 1.86, max_load=2.0, steal_pct=0.12, load_at_start=2.06
    )
    # a genuinely idle start (the common case) stays clean
    assert not bench.is_contended(
        False, 1.36, max_load=2.0, steal_pct=0.0, load_at_start=0.4
    )


def test_latest_prior_bench_picks_best_clean_total():
    """Deltas anchor to the BEST prior round, so a loaded-box round
    can't poison later comparisons with a flattering baseline — and a
    record whose kept attempt was a WARM retry ranks behind every
    clean record (r12 judge finding #2: warm totals are biased low,
    exactly the property that made r11's 11.51 win the pick and turn
    r12's delta misleading)."""
    prev = bench._latest_prior_bench()
    assert prev is not None and "value" in prev and "queries" in prev
    import glob
    import json
    import os

    clean_totals = []
    for path in glob.glob(os.path.join(os.path.dirname(bench.__file__), "BENCH_r*.json")):
        with open(path) as f:
            data = json.load(f)
        if "parsed" in data and isinstance(data["parsed"], dict):
            data = data["parsed"]
        if "value" in data and data["value"] is not None:
            if not data.get("kept_attempt_warm"):
                clean_totals.append(data["value"])
    assert prev["value"] == min(clean_totals)
    # NOTE (r13 advisor): the live-history check stops here — asserting
    # min(all_totals) < min(clean_totals) on the repo's evolving
    # BENCH_r*.json would fail CI the first time a future round records
    # a genuinely-faster CLEAN total below the warm minima. The
    # warm-min-never-beats-clean ordering is pinned as a tmp_path
    # FIXTURE in test_latest_prior_bench_warm_min_never_beats_clean.
    assert not prev.get("kept_attempt_warm")


def test_latest_prior_bench_warm_min_never_beats_clean(tmp_path):
    """The r11-shape regression as a FIXTURE (r13 advisor: don't pin it
    on evolving live history): a warm kept-retry holding the global
    minimum total must lose the comparator pick to a slower clean
    record."""
    import json

    recs = {
        # warm global minimum — the r11 11.512 shape
        "BENCH_r11.json": {"value": 11.512, "queries": {"q": 1.0},
                           "kept_attempt_warm": True},
        # slower but clean — must win
        "BENCH_r08.json": {"value": 12.179, "queries": {"q": 1.2}},
    }
    for name, rec in recs.items():
        (tmp_path / name).write_text(json.dumps({"parsed": rec}))
    prev = bench._latest_prior_bench(str(tmp_path))
    assert prev["round"] == 8 and prev["value"] == 12.179
    assert not prev.get("kept_attempt_warm")


def test_compact_line_fits_driver_tail_capture(tmp_path, monkeypatch):
    """The driver records only the last 2000 chars of bench output;
    round 7's ~2.6k line arrived truncated and BENCH_r07.json got
    "parsed": null. _compact must (a) always emit a line under the cap,
    (b) keep the contract fields, and (c) park the full record in the
    sidecar."""
    import json

    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "detail.json"))
    queries = {f"Q{i:02d}_some_longish_query_name": 1.234 for i in range(12)}
    record = {
        "metric": "headline_queries_total_sec",
        "value": 14.808,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "load_avg_1m": 1.5,
        "load_avg_suite_start": 1.2,
        "load_avg_suite_end": 1.8,
        "load_waited_sec": 90.0,
        "canary_sec": [0.3, 0.31],
        "variance_band": {
            q: {"samples": [1.5, 1.2, 1.1, 1.0, 0.9], "min": 0.9,
                "median": 1.1, "max": 1.5}
            for q in queries
        },
        "median_total_sec": 13.2,
        "cpu_steal_pct": 0.02,
        "delta_vs": 7,
        "delta_sec": {q: -0.123 for q in queries},
        "delta_total_sec": -0.5,
        "stall_reruns": {"Q00_some_longish_query_name": [9.0, 1.2]},
        "suite_reruns": {"reason": "contended " * 20, "first_total_sec": 20.0,
                         "second_total_sec": 14.8, "kept": "second",
                         "first_queries": queries},
    }
    line = bench._compact(dict(record))
    assert len(json.dumps(line)) <= bench.MAX_LINE_CHARS
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert line[key] == record[key]
    # bulky diagnostics are summarized, never inlined
    assert "variance_band" not in line
    assert "delta_sec" not in line
    sidecar = json.loads((tmp_path / "detail.json").read_text())
    assert sidecar["variance_band"] == record["variance_band"]
    assert sidecar["delta_sec"] == record["delta_sec"]


def test_compact_drops_optional_fields_when_oversized(tmp_path, monkeypatch):
    """Even a pathological record (hundreds of queries) must fit: the
    required fields dominate and optional keys drop in order."""
    import json

    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "detail.json"))
    queries = {f"Q{i:03d}_name": 1.0 for i in range(40)}
    record = {
        "metric": "headline_queries_total_sec", "value": 40.0, "unit": "sec",
        "queries": queries, "sf": 0.1, "load_avg_1m": 1.0,
        "canary_sec": [0.3, 0.3],
        "variance_band": {q: {"samples": [1.0], "min": 1.0, "median": 1.0,
                              "max": 1.0} for q in queries},
        "median_total_sec": 40.0,
    }
    line = bench._compact(dict(record))
    assert len(json.dumps(line)) <= bench.MAX_LINE_CHARS
    assert line["queries"] == queries


def test_compact_survives_unwritable_sidecar(monkeypatch, capsys):
    """The stdout line is the driver's record; a sidecar write failure
    (disk full, read-only checkout) must degrade to line-only, never
    raise."""
    import json

    monkeypatch.setattr(
        bench, "DETAIL_PATH", "/proc/definitely/not/writable/detail.json"
    )
    record = {
        "metric": "headline_queries_total_sec", "value": 1.0, "unit": "sec",
        "queries": {"Q": 1.0}, "sf": 0.1,
        "stall_reruns": {"Q": [9.0, 1.0]},
    }
    line = bench._compact(dict(record))
    assert "detail" not in line
    assert line["stall_reruns"] == "yes"
    assert len(json.dumps(line)) <= bench.MAX_LINE_CHARS


def test_wait_for_idle_blocks_on_steal(monkeypatch):
    """The entry gate must not bless a low-load box while the host is
    stealing: it re-checks 5 s steal windows until TWO consecutive
    idle-floor readings (r17 verdict #2), and never sleeps forever."""
    steal_readings = iter([3.2, 0.3, 0.07, 0.05])  # two dirty windows
    # (the second under the OLD 0.5 gate — dirty since the r15 tighten
    # to 0.25), then the two consecutive quiet readings the r18
    # confirmed-quiet tier demands
    sleeps: list[float] = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(
        bench, "_steal_window_pct", lambda seconds=5.0: next(steal_readings)
    )
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    waited, timed_out = bench._wait_for_idle()
    # two dirty 5 s windows with 15 s backoffs, then the two quiet
    # windows sampled BACK-TO-BACK (no backoff between them)
    assert waited == 5 + 15 + 5 + 15 + 5 + 5
    assert sleeps == [15, 15]
    assert timed_out is False


def test_wait_for_idle_single_quiet_window_is_not_enough(monkeypatch):
    """One idle-floor window followed by a dirty one must NOT pass: the
    confirmed-quiet tier requires QUIET_WINDOWS consecutive readings,
    so an isolated lucky probe between neighbor bursts can't bless the
    draw. The pass only comes when two quiet windows land in a row."""
    steal_readings = iter([0.05, 3.0, 0.04, 0.06])
    sleeps: list[float] = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(
        bench, "_steal_window_pct", lambda seconds=5.0: next(steal_readings)
    )
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    waited, timed_out = bench._wait_for_idle()
    # quiet(5) + dirty(5, resets the streak) + backoff(15) + quiet(5)
    # + quiet(5) back-to-back
    assert waited == 5 + 5 + 15 + 5 + 5
    assert sleeps == [15]
    assert timed_out is False


def test_wait_for_idle_fallback_tier_after_half_budget(monkeypatch):
    """A persistently 0.1-0.25%% box (above the idle floor, under the
    dirty/clean separator) must still enter — via the old single-window
    gate — once HALF the wait budget is spent, rather than flipping a
    clean-enough run to contended. Before the half-budget mark the
    quiet tier keeps refusing it."""
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(bench, "_steal_window_pct", lambda seconds=5.0: 0.15)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    waited, timed_out = bench._wait_for_idle(max_wait=100)
    assert timed_out is False
    assert waited >= 50  # not accepted before the half-budget mark
    assert waited < 100  # accepted by the fallback, not timed out


def test_wait_for_idle_resamples_load_after_steal_window(monkeypatch):
    """r10 advisor: the entry load reading is ~5 s stale once the steal
    window has slept — a load spike arriving DURING the window must not
    be blessed. Ordering is steal-then-load: the gate only passes when
    a fresh post-window loadavg is still under MAX_LOAD."""
    loads = iter([
        (0.5, 0, 0),  # entry check: clean
        (9.0, 0, 0),  # post-steal-window re-sample: spiked -> loop
        (0.5, 0, 0),  # second entry check: clean
        (0.5, 0, 0),  # second re-sample: clean -> quiet streak 1
        (0.5, 0, 0),  # third entry check (back-to-back window): clean
        (0.5, 0, 0),  # third re-sample: clean -> quiet streak 2, pass
    ])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(loads))
    monkeypatch.setattr(bench, "_steal_window_pct", lambda seconds=5.0: 0.1)
    sleeps: list[float] = []
    monkeypatch.setattr(bench.time, "sleep", sleeps.append)
    waited, timed_out = bench._wait_for_idle()
    assert timed_out is False
    assert sleeps == [15]  # one backoff for the blocked first pass
    assert waited == 5 + 15 + 5 + 5  # blocked window + backoff + 2 quiet


def test_wait_for_idle_honors_retry_budget(monkeypatch):
    """Retries between suite attempts use a shorter wait budget
    (RETRY_WAIT_SEC) so three attempts stay near the old two-attempt
    wall-clock; the cap is the max_wait argument, not MAX_WAIT_SEC."""
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(bench, "_steal_window_pct", lambda seconds=5.0: 9.9)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    waited, timed_out = bench._wait_for_idle(max_wait=40)
    assert timed_out is True
    assert waited >= 40
    assert waited < bench.MAX_WAIT_SEC


def test_wait_for_idle_gives_up_at_max_wait(monkeypatch):
    """A permanently noisy neighbor must not hang the bench — the gate
    gives up after MAX_WAIT_SEC and the steal disclosure in the record
    marks the run contended instead."""
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(bench, "_steal_window_pct", lambda seconds=5.0: 9.9)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    waited, timed_out = bench._wait_for_idle()
    assert waited >= bench.MAX_WAIT_SEC
    # the flag — not a loadavg re-sample — must report the timeout:
    # persistent steal leaves load clean, so load alone can't (r9 advisor)
    assert timed_out is True


def test_latest_prior_bench_warm_only_fallback(tmp_path):
    """When EVERY prior record is a warm kept-retry, the loader still
    returns the best of them (a suppressed-delta comparator beats no
    comparator), flagged so main()'s delta block suppresses the raw
    deltas with a note naming the round."""
    import json

    recs = {
        "BENCH_r03.json": {"value": 11.5, "queries": {"q": 1.0}, "kept_attempt_warm": True},
        "BENCH_r05.json": {"value": 12.5, "queries": {"q": 1.1}, "kept_attempt_warm": True},
    }
    for name, rec in recs.items():
        (tmp_path / name).write_text(json.dumps({"parsed": rec}))
    prev = bench._latest_prior_bench(str(tmp_path))
    assert prev["round"] == 3 and prev["kept_attempt_warm"] is True

    # ... and one clean record, even slower, displaces both warm ones
    (tmp_path / "BENCH_r04.json").write_text(
        json.dumps({"parsed": {"value": 14.0, "queries": {"q": 1.3}}})
    )
    prev = bench._latest_prior_bench(str(tmp_path))
    assert prev["round"] == 4 and not prev.get("kept_attempt_warm")


def test_warm_kept_attempt_never_populates_raw_deltas():
    """Cold-anchor protocol (SCALE.md §24): a record whose kept attempt
    was a warm retry (keep > 0) must never carry delta_sec or
    delta_total_sec — only the suppression note. A warm total compared
    raw against a cold comparator reads biased-low exactly when the
    retry armor worked."""
    out = {}
    prev = {"round": 8, "value": 12.179, "queries": {"A1": 1.0}}
    bench.apply_delta_fields(out, keep=1, prev=prev, timings={"A1": 0.9}, total=9.0)
    assert "delta_total_sec" not in out and "delta_sec" not in out
    assert "warm retry" in out["delta_note"]
    assert out["delta_vs"] == 8


def test_warm_comparator_never_yields_raw_deltas():
    """Symmetric half: a CLEAN current round compared against a prior
    record that itself kept a warm retry also suppresses raw deltas."""
    out = {}
    prev = {
        "round": 15,
        "value": 10.154,
        "queries": {"A1": 1.0},
        "kept_attempt_warm": True,
    }
    bench.apply_delta_fields(out, keep=0, prev=prev, timings={"A1": 0.9}, total=9.0)
    assert "delta_total_sec" not in out and "delta_sec" not in out
    assert "BENCH_r15" in out["delta_note"]


def test_clean_cold_vs_clean_cold_emits_raw_deltas():
    """The only shape that earns raw deltas: keep == 0 on this side and
    no kept_attempt_warm on the comparator."""
    out = {}
    prev = {"round": 13, "value": 14.0, "queries": {"A1": 1.0, "J1": 0.5}}
    bench.apply_delta_fields(
        out, keep=0, prev=prev, timings={"A1": 1.1, "J1": 0.4}, total=13.0
    )
    assert out["delta_total_sec"] == -1.0
    assert out["delta_sec"] == {"A1": 0.1, "J1": -0.1}
    assert "delta_note" not in out


def test_json_line_is_last_stdout_write():
    """BENCH_r16 postmortem: the JSON line printed BEFORE JVM teardown,
    and shutdown-time RpcEnvStoppedException logWarning traces from live
    state-store maintenance threads evicted it from the driver's
    2000-char tail ("parsed": null). Pin the source contract: main()
    composes the line, runs _quiet_shutdown (log4j OFF -> stop streams
    -> spark.stop() -> settle), and only THEN prints — nothing may
    follow the print in main(), so nothing can follow the line on
    stdout."""
    import inspect

    src = inspect.getsource(bench.main)
    assert src.rstrip().splitlines()[-1].strip() == "print(line, flush=True)"
    shutdown_at = src.index("_quiet_shutdown(spark)")
    compose_at = src.index("line = json.dumps(_compact(out))")
    print_at = src.index("print(line, flush=True)")
    assert compose_at < shutdown_at < print_at


def test_quiet_shutdown_order():
    """_quiet_shutdown must silence log4j BEFORE stopping anything (the
    traces are logWarning output emitted DURING teardown), stop active
    streams before the session, and end with a settle sleep so straggler
    maintenance threads emit their now-suppressed output before the
    caller prints. Best-effort throughout: a shutdown hiccup must not
    cost the record."""
    calls: list[str] = []

    class _Ctx:
        def setLogLevel(self, lvl):
            calls.append(f"log:{lvl}")

    class _Query:
        def stop(self):
            calls.append("qstop")

    class _Streams:
        active = [_Query(), _Query()]

    class _Spark:
        sparkContext = _Ctx()
        streams = _Streams()

        def stop(self):
            calls.append("stop")

    import time as _time

    real_sleep = _time.sleep
    _time.sleep = lambda s: calls.append("sleep")
    try:
        bench._quiet_shutdown(_Spark())
    finally:
        _time.sleep = real_sleep
    assert calls == ["log:OFF", "qstop", "qstop", "stop", "sleep"]

    class _Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("gateway gone")

        @property
        def streams(self):
            raise RuntimeError("gateway gone")

        def stop(self):
            raise RuntimeError("gateway gone")

    bench._quiet_shutdown(_Broken())  # must not raise


def test_end_load_needs_canary_corroboration_when_available():
    """r18 refinement: the +2.0 end-load allowance was calibrated on a
    sparse r6 suite; today's dense 10-15 s suite drives the 1-min
    loadavg EMA to 4-6 at suite end from its OWN work (measured: draw
    3 read end 5.62 at 0.03% steal on a box with zero guest
    co-processes). With a post-suite canary supplied, a high end-load
    arms contention only if the canary ALSO stretched — a competitor
    still running stretches a single-core loop executed after the
    suite; finished self-load cannot."""
    # high end-load + stable canary: self-load, NOT contended
    assert not bench.is_contended(
        False, 5.62, max_load=2.0,
        canary_baseline=0.35, canary_at_end=0.37,
    )
    # high end-load + stretched canary: a real competitor, contended
    assert bench.is_contended(
        False, 5.62, max_load=2.0,
        canary_baseline=0.35, canary_at_end=0.80,
    )
    # canaries absent (pre-r18 call shape): the old rule stands
    assert bench.is_contended(False, 5.62, max_load=2.0)
    # a stable canary never bails out the OTHER signals
    assert bench.is_contended(
        False, 1.2, max_load=2.0, steal_pct=0.4,
        canary_baseline=0.35, canary_at_end=0.36,
    )
    assert bench.is_contended(
        True, 1.2, max_load=2.0,
        canary_baseline=0.35, canary_at_end=0.36,
    )
