"""Unit tests for bench.py's measurement protocol (no Spark needed).

The protocol is the thing standing between the judge and a stalled
host reading (BASELINE.md "Round-9 LATE HOST SHIFT"): pin each branch
so a future edit cannot silently change what a recorded cell means.
"""

from __future__ import annotations

from bench import (
    ANCHOR_SECONDS,
    GUARD_FACTOR,
    GUARD_MIN_CELLS,
    HEADLINE,
    MEDIAN_CUTOFF,
    NO_RETRY,
    PROBE_QUIET,
    STALL_RETRY,
    cells_over_anchor,
    measured_seconds_ex,
    should_rerun_sweep,
)


def _seq(*values):
    """A run() stub that replays fixed readings and counts calls."""
    it = iter(values)
    calls = []

    def run():
        v = next(it)
        calls.append(v)
        return v

    run.calls = calls
    return run


def test_subsecond_cell_records_median_of_three():
    run = _seq(0.2, 0.9, 0.4)
    assert measured_seconds_ex(run)[0] == 0.4
    assert len(run.calls) == 3


def test_midrange_cell_records_single_run():
    # between MEDIAN_CUTOFF and STALL_RETRY: one reading stands
    run = _seq(1.7)
    assert measured_seconds_ex(run)[0] == 1.7
    assert len(run.calls) == 1


def test_heavy_consistent_cell_stops_after_two():
    # a genuinely heavy cell reproduces within 30% — no third run,
    # and the MIN of the pair is recorded
    run = _seq(4.2, 4.0)
    assert measured_seconds_ex(run)[0] == 4.0
    assert len(run.calls) == 2


def test_stall_then_normal_recovers_the_true_reading():
    # 25 s stall, then two honest readings: the min survives
    run = _seq(25.0, 3.1, 3.0)
    assert measured_seconds_ex(run)[0] == 3.0
    assert len(run.calls) == 3


def test_retry_stops_once_reading_drops_below_threshold():
    # second reading under STALL_RETRY ends the loop immediately
    run = _seq(25.0, 2.0)
    assert measured_seconds_ex(run)[0] == 2.0
    assert len(run.calls) == 2


def test_two_consistent_stalls_stand_documented_limitation():
    # two same-magnitude stalls read as "consistent" and stand —
    # BASELINE.md's cross-run minimum rule covers this case
    run = _seq(25.0, 26.0)
    assert measured_seconds_ex(run)[0] == 25.0
    assert len(run.calls) == 2


def test_no_retry_cell_keeps_first_reading():
    # cache-backed cells (c39): a rerun would time a cache hit
    run = _seq(30.0)
    assert measured_seconds_ex(run, retryable=False)[0] == 30.0
    assert len(run.calls) == 1


def test_no_retry_cell_skips_repeat_median_too():
    # ADVICE r9: a NO_RETRY cell whose first reading lands under
    # MEDIAN_CUTOFF must NOT be rerun for the median either — the
    # rerun would time a cache-hit read of the (session, sf)-cached
    # build, exactly what NO_RETRY exists to prevent.
    run = _seq(0.4, 0.1, 0.1)
    assert measured_seconds_ex(run, retryable=False)[0] == 0.4
    assert len(run.calls) == 1


def test_protocol_constants_are_the_documented_ones():
    assert MEDIAN_CUTOFF == 1.0
    assert STALL_RETRY == 2.5
    # b135 moved to SPLIT_BUILD in round 13 (its delete is 0.00 s
    # metadata work; the cell cost was the demo-warehouse build)
    assert NO_RETRY == {"c39_signature_index_merge"}


# --- run-count reporting + whole-run degraded guard (VERDICT r10 #3) ---


def test_run_counts_are_reported_per_branch():
    # the JSON's cell_runs field distinguishes a 1-shot reading from a
    # reproduced minimum: median path = 3, midrange = 1, recovered
    # stall = 3, consistent heavy pair = 2, NO_RETRY = 1
    assert measured_seconds_ex(_seq(0.2, 0.9, 0.4)) == (0.4, 3)
    assert measured_seconds_ex(_seq(1.7)) == (1.7, 1)
    assert measured_seconds_ex(_seq(25.0, 3.1, 3.0)) == (3.0, 3)
    assert measured_seconds_ex(_seq(4.2, 4.0)) == (4.0, 2)
    assert measured_seconds_ex(_seq(30.0), retryable=False) == (30.0, 1)


def _fixture_times(n_over: int, probe: float) -> dict[str, float]:
    """A synthetic sweep: every anchored cell at its anchor, except
    the first n_over cells stalled to 2.5x anchor (the round-10
    driver-run signature: degraded phase, quiet probes)."""
    anchored = sorted(ANCHOR_SECONDS)
    times = {n: ANCHOR_SECONDS[n] for n in anchored}
    for n in anchored[:n_over]:
        times[n] = ANCHOR_SECONDS[n] * 2.5
    times["_host_probe_start"] = probe
    times["_host_probe_end"] = probe
    return times


def test_guard_fires_on_stealth_degraded_run():
    # >= GUARD_MIN_CELLS over 2x anchor + quiet probes = the exact
    # shape that contaminated BENCH_r10.json — rerun
    times = _fixture_times(GUARD_MIN_CELLS, probe=0.45)
    over = cells_over_anchor(times)
    assert len(over) == GUARD_MIN_CELLS
    assert should_rerun_sweep(times)


def test_guard_ignores_runs_the_probes_already_flag():
    # a LOUD probe marks the run as degraded in the JSON itself; the
    # guard exists only for the stealth phase
    times = _fixture_times(GUARD_MIN_CELLS + 3, probe=1.2)
    assert not should_rerun_sweep(times)


def test_guard_needs_min_cells():
    # one or two stalled cells are what the per-cell retry handles;
    # the whole-run guard needs the broad signature
    times = _fixture_times(GUARD_MIN_CELLS - 1, probe=0.45)
    assert not should_rerun_sweep(times)


def test_guard_quiet_run_at_anchor_does_not_fire():
    times = _fixture_times(0, probe=0.45)
    assert cells_over_anchor(times) == []
    assert not should_rerun_sweep(times)


def test_guard_requires_both_probes_present():
    # a missing probe cell (malformed run) must not silently pass as
    # "quiet"
    times = _fixture_times(GUARD_MIN_CELLS, probe=0.45)
    del times["_host_probe_end"]
    assert not should_rerun_sweep(times)


def test_anchor_table_matches_headline_set():
    # every anchored cell is a real headline cell (no orphaned
    # anchors after a rename), and the guard constants are the
    # documented ones
    assert set(ANCHOR_SECONDS) <= set(HEADLINE)
    assert GUARD_FACTOR == 2.0
    assert GUARD_MIN_CELLS == 4
    assert PROBE_QUIET == 0.6


def test_summary_line_is_bounded_and_core_only():
    # VERDICT r16 item 2: the one-line stdout contract must stay small
    # enough that the driver's output-tail capture can never truncate
    # it (r15's line, grown by cell_runs + guard, was cut from the
    # front and failed to parse). Build a worst-case line — every
    # headline cell plus its demo-build twin, probes, session init,
    # maximal float widths — and bound it under the capture
    # window; the payload carries ONLY the five driver-parsed keys.
    import json

    from bench import CAPTURE_WINDOW, SPLIT_BUILD, summary_line

    times = {"_session_init": 8888.888, "_host_probe_start": 10.463}
    for name in HEADLINE:
        if name in SPLIT_BUILD:
            times[f"{name}_demo_build"] = 8888.888
        times[name] = 8888.888
    times["_host_probe_end"] = 10.486
    line = summary_line(123456.789, times, 0.1)
    assert "\n" not in line
    assert CAPTURE_WINDOW <= 8192
    assert len(line) < CAPTURE_WINDOW
    payload = json.loads(line)
    assert set(payload) == {"metric", "value", "unit", "queries", "sf"}
    assert payload["value"] == 123456.789
    assert payload["queries"]["_session_init"] == 8888.888
