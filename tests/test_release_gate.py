"""The bench regression gate (tools/release_check.py step 4)."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "release_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "release_check.py"))
release_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and release_check)


def test_gate_flags_25pct_drift_on_slow_queries():
    prev = {"ngram_model_score": 2.518, "islands_flagship": 2.0}
    cur = {"ngram_model_score": 3.2, "islands_flagship": 2.1}
    v = release_check.bench_regressions(cur, prev)
    assert len(v) == 1 and v[0].startswith("ngram_model_score")
    # the intentionally-failed dry run the r5 verdict asked for: the
    # actual r4->r5 drift (2.518 -> 2.855, +13%) stays under the 25%
    # gate, but a 2.518 -> 3.2 (+27%) drift trips it
    assert release_check.bench_regressions(
        {"ngram_model_score": 2.855}, {"ngram_model_score": 2.518}) == []


def test_gate_exempts_new_and_subnoise_queries():
    prev = {"fast_q": 0.2, "old_q": 1.0}
    cur = {"fast_q": 0.45, "brand_new_q": 9.9, "old_q": 1.1}
    assert release_check.bench_regressions(cur, prev) == []


def test_gate_catches_subfloor_query_blowing_past_floor():
    """The noise exemption must not mask a 0.4s query falling off a
    broadcast join to 30s: only both-sides-sub-floor is exempt."""
    v = release_check.bench_regressions({"q": 30.0}, {"q": 0.4})
    assert len(v) == 1 and v[0].startswith("q:")


def test_gate_exempts_drift_inside_previous_spread():
    """A +30% drift that is still within last round's own observed
    run-to-run [min, median, max] band is weather, not a regression
    (r9 verdict item 4) — but a drift past the band still trips."""
    prev = {"q": 1.0}
    spread = {"q": [1.0, 1.2, 1.4]}
    assert release_check.bench_regressions(
        {"q": 1.35}, prev, spread) == []
    v = release_check.bench_regressions({"q": 1.5}, prev, spread)
    assert len(v) == 1 and v[0].startswith("q:")
    # no spread recorded (pre-r10 baseline): plain 25% rule applies
    assert len(release_check.bench_regressions({"q": 1.35}, prev)) == 1
    # the band exemption is CAPPED at 2x: one contention-inflated
    # max-of-5 sample (here 9.1 on a 3.1s query — the documented
    # r2->r3 ambient swing) must not license a real 2.6x regression
    wild = {"q": [3.1, 3.3, 9.1]}
    v = release_check.bench_regressions({"q": 8.0}, {"q": 3.1}, wild)
    assert len(v) == 1 and v[0].startswith("q:")
    # ...while a genuine in-band wobble under the cap still passes
    assert release_check.bench_regressions(
        {"q": 4.4}, {"q": 3.1}, wild) == []


def test_drift_factor_normalizes_machine_state():
    """Both records carry the calibration row; the gate compares in
    idle-machine-equivalent seconds (the r8/r9 judges' own
    methodology). A +33% raw drift that is fully explained by the
    baseline having run on a faster machine (drift 0.843 vs 0.952)
    passes; the same raw times with equal drift still fail; a corrupt
    factor is clamped so it cannot disable the gate."""
    prev = {"q": 0.962}
    cur = {"q": 1.283}   # +33% raw — the round-10 ambient case
    factor = 0.843 / 0.952
    assert release_check.bench_regressions(cur, prev, None, factor) == []
    assert len(release_check.bench_regressions(cur, prev, None, 1.0)) == 1
    # clamp: an absurd factor (corrupt calibration) cannot exempt a 3x
    assert len(release_check.bench_regressions(
        {"q": 3.0}, prev, None, 0.01)) == 1


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_latest_recorded_bench_always_yields_usable_baseline():
    """The gate must never silently lose its baseline again (r11:
    BENCH_r11.json shipped parsed:null and latest_recorded_bench
    returned None, disabling the cross-round gate). With any parsable
    BENCH_r*.json in the tree, the resolver returns a gate-usable
    record at the driver's scale factor and core count."""
    rec = release_check.latest_recorded_bench()
    assert rec is not None
    assert rec["sf"] == 0.1   # the driver benches at sf0.1
    assert rec["cpus"] == 32  # ...on 32 cores
    assert rec["file"].startswith("BENCH_r")
    assert rec["queries"] and all(
        isinstance(v, float) for v in rec["queries"].values())
    # a driver record whose line overflowed the tail capture is
    # unusable, and the resolver falls back past it
    assert release_check._load_record(
        os.path.join(ROOT, "BENCH_r11.json")) is None


def test_core_count_mismatch_is_not_compared():
    """A 4-core run against the 32-core driver baseline read
    islands_flagship 1.088 -> 3.930 s with unchanged code: the core
    count, not a regression. Like the sf, a core-count mismatch prints
    both values and is not compared; equal shapes are compared."""
    prev = {"file": "BENCH_r14.json", "sf": 0.1, "cpus": 32}
    msg = release_check.not_comparable(prev, {"sf": 0.1, "cpus": 4})
    assert msg and msg.startswith("not comparable: 32 vs 4 cores")
    msg = release_check.not_comparable(prev, {"sf": 1.0, "cpus": 32})
    assert msg and "sf=0.1 vs sf=1.0" in msg
    assert release_check.not_comparable(prev, {"sf": 0.1, "cpus": 32}) is None
    # a record that never stated its core count is not assumed equal
    assert release_check.not_comparable(prev, {"sf": 0.1}) is not None


def test_bench_final_line_fits_driver_tail():
    """r11 verdict item 2, the driver-contract canary: bench.py's
    compact core line for a full record of the registry's headline
    queries (the real names, worst-case float widths) stays under
    MAX_FINAL_LINE_CHARS, and a simulated 2,000-char driver tail
    capture of the two-line stdout still yields a parsable record with
    the queries dict."""
    import importlib.util as _ilu
    import json
    spec = _ilu.spec_from_file_location(
        "bench", os.path.join(ROOT, "bench.py"))
    bench = _ilu.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from transcript_analysis_spark.plans import all_queries
    names = sorted(n for n, q in all_queries().items() if q.headline)
    assert len(names) >= 21
    full = {
        "metric": "headline_queries_total_wall",
        "value": 123.456, "unit": "sec",
        "queries": {n: 123.456 for n in names},
        "queries_spread": {n: [123.456, 123.456, 123.456] for n in names},
        "sf": 0.1, "cpus": 32,
        "calibrations": {"cpu": 0.2345, "scan": 0.2345, "shuffle": 0.6345},
        "calibration_refs": dict(bench.CALIBRATION_REFS),
        "machine_drifts": {"cpu": 1.234, "scan": 1.234, "shuffle": 1.234},
        "calibration_sec": 0.2345, "calibration_ref_sec": 0.21,
        "machine_drift": 1.234,
    }
    core, detail = bench.split_record(full)
    core_line = json.dumps(core)
    assert len(core_line) <= bench.MAX_FINAL_LINE_CHARS, len(core_line)
    # every fat field moved to the detail line, none dropped
    merged = {**detail, **core}
    merged.pop("metric")
    assert {k: v for k, v in full.items() if k != "metric"} == merged
    # the driver's capture: last 2000 chars of the two-line stdout
    stdout = json.dumps(detail) + "\n" + core_line + "\n"
    rec = release_check.driver_tail_record(stdout)
    assert rec is not None and set(rec["queries"]) == set(names)
    # regression shape of the r11 failure: a single fat line overflows
    # and the tail capture must report it as unusable, not mis-parse
    assert release_check.driver_tail_record(
        json.dumps(full) + "\n") is None
