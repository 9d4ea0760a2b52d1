"""bench.py stdout-line emission — the driver-capture contract.

Round 5's only deliverable bug was this line: per-query stats pushed
the single stdout JSON line past the driver's ~2000-char tail capture
and BENCH_r05.json recorded "parsed": null — a healthy engine with no
official headline number. These tests pin the contract so query-count
growth can never silently break the record again: the line parses,
carries the required keys, and stays under bench.LINE_BUDGET no matter
how many queries the headline set grows to.

No Spark session needed — build_headline_line is pure.
"""

from __future__ import annotations

import json

import bench
from bench import HEADLINE, LINE_BUDGET, build_headline_line

_INGEST = {
    "records_consumed": 4_000_000,
    "records_inserted": 4_000_000,
    "norm_records_inserted": 5_333_333,
    "duration_seconds": 1.848,
    "records_per_second": 2_164_653.22,
    "total_rows_per_second": 5_050_857.34,
    "mb_per_second": 82.0,
    "payload_mb": 151.52,
    "cores": 32,
    "passes": 2,
    "decode": "protobuf-jvm",
}


def _fake_timings(n: int) -> dict[str, float]:
    # realistic worst case for line size: long key names, 2dp values
    return {f"q{i:03d}_some_longer_operator_name_{i}": round(0.31 + i * 0.017, 2) for i in range(n)}


_INGEST_WIDE = dict(
    _INGEST,
    shape="wide",
    records_consumed=1_890_000,
    mb_per_second=274.1,
    bytes_per_record=1288.2,
)


def test_current_headline_set_fits_budget():
    """The REAL headline list (what bench.py will actually emit next
    round) must fit the driver capture with full per-query detail or
    via the _others trim — either way the line parses. Round 7 adds
    the two WIDE ingest blocks (byte parity with the reference's
    501 MB/s run), which must carry MB/s + bytes/record on the line."""
    timings = {name: 1.23 for name in HEADLINE}
    line = build_headline_line(
        timings, 0.1, _INGEST, _INGEST,
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["metric"] == "headline_query_wall_time"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.1
    assert d["ingest"]["total_rows_per_second"] == 5_050_857
    assert d["ingest_wide"]["mb_per_second"] == 274.1
    assert d["ingest_wide"]["bytes_per_record"] == 1288
    assert d["ingest_streaming_wide"]["total_rows_per_second"] == 5_050_857
    # the small blocks stay rows/s-only (line-budget discipline)
    assert "mb_per_second" not in d["ingest"]
    # every headline query is accounted for: individually or in _others
    total = round(sum(v for v in d["queries"].values()), 2)
    assert abs(total - round(sum(timings.values()), 2)) < 0.5


def test_growth_to_200_queries_still_parses_under_budget():
    timings = _fake_timings(200)
    line = build_headline_line(
        timings, 0.1, _INGEST, _INGEST,
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["n_queries"] == 200
    assert "_others" in d["queries"]
    # the slowest queries survive individually (they're what the judge
    # reads); the fast tail folds into _others
    slowest = max(timings, key=timings.get)
    assert slowest in d["queries"]


def test_value_param_overrides_sum_and_errors_ride_along():
    timings = {"q01": 1.0, "q02": 2.0}
    line = build_headline_line(
        timings, 0.01, {"error": "x"}, {"error": "y"},
        errors={"q99": "boom"}, value=3.4567,
    )
    d = json.loads(line)
    assert d["value"] == 3.4567
    assert d["errors"] == {"q99": "boom"}
    assert d["ingest"] == {"error": "x"}  # non-throughput reports pass through


def test_untrimmed_when_small():
    timings = {"q01": 1.0, "q02": 2.0}
    d = json.loads(build_headline_line(timings, 0.001, _INGEST, _INGEST))
    assert d["queries"] == timings
    assert "n_queries" not in d
    assert d["value"] == 3.0


def test_spread_block_rides_the_line_under_budget():
    """Round-9: the window-noise evidence (sum-of-medians / sum-of-maxes
    vs the best-of-N value) must ride the PARSED line so a stall-heavy
    driver window is distinguishable from a regression in the committed
    artifact — with the full headline set, under budget."""
    timings = {name: 1.23 for name in HEADLINE}
    spread = {"med_total": 81.4, "max_total": 112.9, "rerun": 12}
    line = build_headline_line(
        timings, 0.1, _INGEST, _INGEST,
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
        spread=spread,
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["spread"] == spread


def test_spread_stall_markers_ride_then_shed():
    """Round-10 (r9 verdict #4), re-ordered in round 14 (r13 verdict
    #4): per-query stall markers — the per-sample wall times of
    scattered queries — ride the parsed line when it fits whole, and
    are the FIRST evidence shed when the line would overflow, BEFORE
    any query folding (full copy stays in BENCH_STATS.json)."""
    spread = {
        "med_total": 81.4, "max_total": 112.9, "rerun": 12,
        "stalls": {
            f"q{i:02d}_some_scattered_query": [1.2, 14.8, 1.3]
            for i in range(6)
        },
    }
    # small query map: everything fits, stalls ride the line
    timings = {name: 1.23 for name in HEADLINE[:12]}
    line = build_headline_line(
        timings, 0.1, _INGEST, _INGEST,
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
        spread=spread,
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["spread"]["stalls"]["q00_some_scattered_query"] == [1.2, 14.8, 1.3]
    assert d["queries"] == timings
    # overflow path: 200 long-named queries + 4 long ingest blocks ->
    # stalls shed, core spread stats survive, line parses
    big = _fake_timings(200)
    line2 = build_headline_line(
        big, 0.1, _INGEST, _INGEST,
        errors={f"q{i:02d}_failing_operator": "e" * 200 for i in range(10)},
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
        spread=spread,
    )
    assert len(line2) <= LINE_BUDGET, len(line2)
    d2 = json.loads(line2)
    assert d2["spread"]["med_total"] == 81.4
    assert "stalls" not in d2["spread"]


def test_stalls_shed_before_query_fold_keeps_query_map_stable():
    """Round-14 (r13 verdict #4): the stalls block is shed BEFORE the
    query map is folded, so a contended window (large stalls block)
    publishes the IDENTICAL per-query map a clean window would — the
    driver's PERF diff must never read fold-evicted queries as
    "dropped_from_bench" again (r13: 8 queries)."""
    timings = {name: round(0.4 + i * 0.013, 2) for i, name in enumerate(HEADLINE)}
    spread_clean = {"med_total": 81.4, "max_total": 112.9, "rerun": 12}
    spread_noisy = dict(
        spread_clean,
        stalls={
            f"q{i:02d}_some_scattered_query_name": [1.2, 14.8, 1.3]
            for i in range(8)
        },
    )
    kwargs = dict(
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE
    )
    d_clean = json.loads(
        build_headline_line(
            timings, 0.1, _INGEST, _INGEST, spread=spread_clean, **kwargs
        )
    )
    line_noisy = build_headline_line(
        timings, 0.1, _INGEST, _INGEST, spread=spread_noisy, **kwargs
    )
    assert len(line_noisy) <= LINE_BUDGET, len(line_noisy)
    d_noisy = json.loads(line_noisy)
    # Identical query maps: window noise changes NO fold decision.
    assert d_noisy["queries"] == d_clean["queries"]
    assert d_noisy["spread"]["med_total"] == 81.4


def test_window_marker_rides_compact_ingest_blocks():
    """r12 verdict #3: the window class emitted by stall_evidence must
    survive into the compact driver line's ingest blocks (all four),
    within budget — the cross-round comparability marker."""
    timings = {name: 1.23 for name in HEADLINE}
    narrow = dict(_INGEST, window="clean")
    wide = dict(_INGEST_WIDE, window="contended")
    line = build_headline_line(
        timings, 0.1, narrow, dict(narrow),
        ingest_wide=wide, ingest_streaming_wide=dict(wide),
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["ingest"]["window"] == "clean"
    assert d["ingest_streaming"]["window"] == "clean"
    assert d["ingest_wide"]["window"] == "contended"
    assert d["ingest_streaming_wide"]["window"] == "contended"
    # absent evidence -> absent field (unclassified != clean)
    line2 = build_headline_line(
        timings, 0.1, _INGEST, _INGEST,
        ingest_wide=_INGEST_WIDE, ingest_streaming_wide=_INGEST_WIDE,
    )
    assert "window" not in json.loads(line2)["ingest"]


def test_unconditional_guard_without_errors_map():
    """Advisor r8: long strings in the ingest blocks with NO errors map
    must still shrink to a parseable under-budget line (the old guard
    only fired when errors was non-empty)."""
    blk = {f"e{i}": "y" * 200 for i in range(8)}
    timings = _fake_timings(200)
    line = build_headline_line(
        timings, 0.1, dict(blk), dict(blk),
        ingest_wide=dict(blk), ingest_streaming_wide=dict(blk),
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["ingest"]["e0"] == "err"
    assert d["n_queries"] == 200


def test_subprocess_failure_path_fits_budget():
    """Advisor r7: when the ingest subprocess dies, all FOUR ingest
    blocks carry the same ~200-char error string plus an errors map —
    the line must still parse under budget (error strings cut to 80)."""
    err = {"error": "x" * 200}
    timings = {name: 1.23 for name in HEADLINE}
    line = build_headline_line(
        timings, 0.1, err, err,
        errors={f"q{i:02d}_failing_operator": "e" * 200 for i in range(6)},
        ingest_wide=dict(err), ingest_streaming_wide=dict(err),
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert len(d["ingest"]["error"]) <= 80
    assert len(d["ingest_wide"]["error"]) <= 80
    assert all(len(v) <= 80 for v in d["errors"].values())
    assert d["value"] == round(sum(timings.values()), 4)


# ---------------------------------------------------------------------------
# Ingest stall machinery (r10 verdict #1) — pure helpers, no Spark.
# ---------------------------------------------------------------------------

from quacfka_spark.bench_ingest import (  # noqa: E402
    _cpu_jiffies,
    should_rerun_stalled,
    stall_evidence,
)


def test_stall_evidence_marks_all_passes_and_verdict():
    ev = stall_evidence(
        [38.2, 37.1, 36.9], 9.5, [0.31, 0.29, None], [0.41, 0.38, None]
    )
    assert ev["pass_seconds"] == [38.2, 37.1, 36.9]
    assert ev["expected_pass_s"] == 9.5
    assert ev["stalled"] is True  # best 36.9 > 2 * 9.5
    assert ev["pass_busy"] == [0.31, 0.29, None]
    assert ev["pass_steal"] == [0.41, 0.38, None]


def test_stall_evidence_clean_window():
    ev = stall_evidence([9.8, 9.6], 9.5, [0.97, 0.95], [0.0, 0.0])
    assert ev["stalled"] is False
    # zero steal is the healthy case — not worth line bytes
    assert "pass_steal" not in ev
    assert ev["pass_busy"] == [0.97, 0.95]


def test_stall_evidence_without_expectation_still_records_passes():
    # direct callers (rows= explicit, no calibration): no expectation,
    # no verdict — but the per-pass record still lands in the report
    ev = stall_evidence([2.1, 38.0], None, [None, None], [None, None])
    assert ev["pass_seconds"] == [2.1, 38.0]
    assert "stalled" not in ev and "expected_pass_s" not in ev
    assert "pass_busy" not in ev


def test_should_rerun_stalled_policy():
    import time as _t

    far = _t.monotonic() + 10_000
    # best pass 3x expectation, room under cap, deadline far -> rerun
    assert should_rerun_stalled([30.0, 31.0], 10.0, 6, far)
    # one clean sample defends the block -> stop
    assert not should_rerun_stalled([30.0, 9.9], 10.0, 6, far)
    # cap reached -> stop even though still stalled
    assert not should_rerun_stalled([30.0] * 6, 10.0, 6, far)
    # no expectation (uncalibrated) or no deadline -> never rerun
    assert not should_rerun_stalled([30.0], None, 6, far)
    assert not should_rerun_stalled([30.0], 10.0, 6, None)
    # deadline too close for another best-length pass -> stop
    near = _t.monotonic() + 5.0
    assert not should_rerun_stalled([30.0], 10.0, 6, near)


def test_cpu_jiffies_shape():
    # Linux CI/dev hosts: monotone non-negative triple, busy <= total
    j = _cpu_jiffies()
    if j is None:  # non-Linux fallback is allowed
        return
    busy, steal, total = j
    assert 0 <= busy <= total and 0 <= steal <= total


def test_stall_markers_ride_ingest_blocks_under_budget():
    """Worst case: all four blocks stalled with full pass lists, steal
    evidence, and a resize marker — the line must still parse under
    budget with the full headline set (query map folds into _others)."""
    stalled_small = dict(
        _INGEST,
        stalled=True,
        expected_pass_s=9.53,
        pass_seconds=[38.2, 37.1, 36.9, 39.4, 38.8, 37.7, 36.2, 40.1],
        pass_busy=[0.31] * 8,
        pass_steal=[0.41] * 8,
        calib_seconds=[1.2, 9.8, 1.3],
        resized=True,
    )
    stalled_wide = dict(_INGEST_WIDE, **{
        k: stalled_small[k]
        for k in ("stalled", "expected_pass_s", "pass_seconds",
                  "pass_busy", "pass_steal", "resized")
    })
    timings = {name: 1.23 for name in HEADLINE}
    line = build_headline_line(
        timings, 0.1, stalled_small, stalled_small,
        ingest_wide=stalled_wide, ingest_streaming_wide=stalled_wide,
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    for blk in ("ingest", "ingest_streaming", "ingest_wide",
                "ingest_streaming_wide"):
        assert d[blk]["stalled"] == 1
        assert d[blk]["exp_s"] == 9.5
        assert len(d[blk]["ps"]) == 8
        assert d[blk]["steal"] == 41
    assert d["ingest"]["resized"] == 1


def test_scattered_but_defended_block_carries_passes_only():
    """A block whose best pass is clean but whose other samples stalled
    is NOT marked stalled — the pass list rides so the artifact can
    defend the best-of-N number."""
    rep = dict(
        _INGEST,
        stalled=False,
        expected_pass_s=9.53,
        pass_seconds=[9.8, 38.2],
        pass_busy=[0.97, 0.31],
        pass_steal=[0.0, 0.44],
    )
    d = json.loads(build_headline_line({"q01": 1.0}, 0.1, rep, _INGEST))
    assert "stalled" not in d["ingest"]
    assert d["ingest"]["ps"] == [9.8, 38.2]
    assert d["ingest"]["steal"] == 44
    # the clean sibling block carries no stall bytes at all
    assert "ps" not in d["ingest_streaming"]


def test_stall_evidence_cotenant_attribution():
    """owns (r11 #5): pass_other = host busy the bench tree did not
    consume, emitted only when material (>= 0.10 on some pass) — the
    co-tenant failure mode the stall verdict cannot see because a
    shared host slows calibration and passes equally."""
    # saturated host, bench tree only ~half of it -> attribution rides
    ev = stall_evidence(
        [10.2, 10.5], 9.5, [0.99, 0.98], [0.0, 0.0], owns=[0.55, 0.52]
    )
    assert ev["pass_other"] == [0.44, 0.46]
    # healthy window: busy ~= own -> no bytes spent
    ev = stall_evidence(
        [9.8, 9.6], 9.5, [0.7, 0.65], [0.0, 0.0], owns=[0.68, 0.61]
    )
    assert "pass_other" not in ev
    # missing own samples stay None inside an otherwise-material list
    ev = stall_evidence(
        [9.8, 9.6], 9.5, [0.99, 0.98], [0.0, 0.0], owns=[0.5, None]
    )
    assert ev["pass_other"] == [0.49, None]
    # backward compatible: no owns arg -> no key
    ev = stall_evidence([9.8], 9.5, [0.99], [0.0])
    assert "pass_other" not in ev


def test_window_class_marker():
    """r12 verdict #3: every ingest block with attribution evidence
    carries a one-field window marker so cross-round comparisons
    (173.6 vs 825.9 MB/s) are legible without reading the per-pass
    arrays. contended = co-tenant load (busy - own >= 0.15 on any
    pass) or hypervisor steal >= 0.05; clean otherwise; ABSENT (not
    'clean') when the attribution evidence is missing."""
    from quacfka_spark.bench_ingest import window_class

    # r11's co-tenant signature: saturated busy, tree owns ~half
    ev = stall_evidence(
        [10.2, 10.5], 9.5, [0.99, 0.98], [0.0, 0.0], owns=[0.55, 0.52]
    )
    assert ev["window"] == "contended"
    # r12's clean window: busy ~= own, sub-threshold residue
    ev = stall_evidence(
        [9.8, 9.6], 9.5, [0.74, 0.70], [0.0, 0.0], owns=[0.70, 0.66]
    )
    assert ev["window"] == "clean"
    # clean says clean even though pass_other stayed un-emitted
    assert "pass_other" not in ev
    # steal alone marks contention (noisy hypervisor neighbor)
    ev = stall_evidence([9.8], 9.5, [0.9], [0.08], owns=[0.88])
    assert ev["window"] == "contended"
    # no attribution evidence -> no marker (unclassified != clean)
    ev = stall_evidence([9.8], 9.5, [0.99], [0.0])
    assert "window" not in ev
    assert window_class([None], [None], None) is None
    # single-pass probe-row form (tools/stream_fixed_cost.py; r12 verdict #2)
    assert window_class([0.95], [0.0], [0.93]) == "clean"
    assert window_class([0.99], [0.0], [0.6]) == "contended"


def test_tree_jiffies_measures_own_burn():
    from quacfka_spark.bench_ingest import _tree_jiffies

    j0 = _tree_jiffies()
    if j0 is None:  # non-Linux fallback is allowed
        return
    # burn ~0.2 s of CPU in this process; the tree total must advance
    t = 0
    import time as _t

    end = _t.process_time() + 0.2
    while _t.process_time() < end:
        t += 1
    j1 = _tree_jiffies()
    assert j1 is not None and j1 > j0


def test_cotenant_marker_rides_compact_wide_block():
    wide = dict(
        _INGEST_WIDE,
        pass_seconds=[5.3, 5.4],
        pass_busy=[0.99, 0.98],
        pass_other=[0.41, 0.38],
    )
    timings = {name: 1.23 for name in HEADLINE}
    line = build_headline_line(
        timings, 0.1, _INGEST, _INGEST, ingest_wide=wide
    )
    assert len(line) <= LINE_BUDGET, len(line)
    d = json.loads(line)
    assert d["ingest_wide"]["other"] == 41
    # healthy window: no marker
    wide2 = dict(wide, pass_other=[0.03, 0.02])
    d2 = json.loads(
        build_headline_line(timings, 0.1, _INGEST, _INGEST, ingest_wide=wide2)
    )
    assert "other" not in d2["ingest_wide"]
