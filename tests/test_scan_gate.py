"""The scan gate (r9 verdict item 1): the repo-wide "no unexplained
multi-scan plan" invariant, mechanically enforced at release time,
and the work gate beside it (per-query Spark work counters vs pinned
ceilings). These tests cover both pins files' contracts and both
gates' decision logic without a JVM; one test runs the real gate
subprocess against the committed pins. The plan-shape assertions
themselves live in tests/test_physical_plans.py."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "scan_audit", os.path.join(ROOT, "tools", "scan_audit.py"))
scan_audit = importlib.util.module_from_spec(spec)
spec.loader.exec_module(scan_audit)


@pytest.fixture(scope="module")
def registered():
    from transcript_analysis_spark.plans import all_queries
    return set(all_queries())


def test_pins_file_contract(registered):
    pins = scan_audit.load_pins()
    assert pins, "scan_pins.json must not be empty"
    unknown = set(pins) - registered
    assert not unknown, f"pins for unregistered queries: {unknown}"
    # a ceiling of 1 is the default — an explicit entry must carry
    # information (>= 2), else it is dead weight
    bad = {k: v for k, v in pins.items() if not isinstance(v, int) or v < 2}
    assert not bad, f"non-informative pins: {bad}"
    raw = json.load(open(scan_audit.PINS_PATH))
    assert "_comment" in raw  # regeneration/review instructions


def test_known_exceptions_are_registered(registered):
    assert set(scan_audit.KNOWN_EXCEPTIONS) <= registered


def _fake_gate(monkeypatch, counts_by_name, pins, reused_by_name):
    monkeypatch.setattr(scan_audit, "load_pins", lambda: pins)
    monkeypatch.setattr(
        scan_audit, "compiled_scan_counts",
        lambda spark, sf: iter(
            (n, c, None) for n, c in counts_by_name.items()))
    monkeypatch.setattr(
        scan_audit, "runtime_reused_count",
        lambda spark, sf, n: reused_by_name[n])
    return scan_audit.gate(None, "unused")


def test_gate_green_within_ceilings(monkeypatch):
    v = _fake_gate(monkeypatch,
                   {"q1": {"orders": 2}, "q2": {"lineitem": 1}},
                   {"q1": 2}, {})
    assert v == []


def test_gate_fails_on_ceiling_regression(monkeypatch):
    v = _fake_gate(monkeypatch, {"q1": {"orders": 3}}, {"q1": 2}, {})
    assert len(v) == 1 and "exceeds pinned ceiling" in v[0]


def test_gate_defaults_unpinned_to_one(monkeypatch):
    """A NEW query sneaking in a 2-scan shape must be pinned
    consciously — the default ceiling is 1."""
    v = _fake_gate(monkeypatch, {"new_q": {"documents": 2}},
                   {"new_q": 2}, {})
    assert v == []
    v = _fake_gate(monkeypatch, {"new_q": {"documents": 2}}, {}, {})
    assert len(v) == 1 and "exceeds pinned ceiling 1" in v[0]


def test_gate_fails_on_zero_reuse_at_threshold(monkeypatch):
    counts = {"hot": {"documents": scan_audit.GATE_RUNTIME_THRESHOLD}}
    pins = {"hot": scan_audit.GATE_RUNTIME_THRESHOLD}
    assert _fake_gate(monkeypatch, counts, pins, {"hot": 2}) == []
    v = _fake_gate(monkeypatch, counts, pins, {"hot": 0})
    assert len(v) == 1 and "ZERO runtime ReusedExchange" in v[0]


def test_gate_honors_known_exceptions(monkeypatch):
    counts = {"orders_table_profile": {"orders": 6}}
    pins = {"orders_table_profile": 6}
    # in KNOWN_EXCEPTIONS: zero reuse is documented-ok, never executed
    v = _fake_gate(monkeypatch, counts, pins,
                   {"orders_table_profile": 0})
    assert v == []


def test_gate_fails_on_build_error(monkeypatch):
    monkeypatch.setattr(scan_audit, "load_pins", lambda: {})
    monkeypatch.setattr(
        scan_audit, "compiled_scan_counts",
        lambda spark, sf: iter([("broken", {}, "BUILD ERROR X")]))
    v = scan_audit.gate(None, "unused")
    assert len(v) == 1 and "BUILD ERROR" in v[0]


# --- the work gate: per-query Spark work counters vs pinned ceilings

def _fake_work_gate(monkeypatch, measured, pins, tmp_path):
    monkeypatch.setattr(scan_audit, "WORK_SF_DIR", str(tmp_path))
    monkeypatch.setattr(scan_audit, "load_work_pins", lambda: pins)
    monkeypatch.setattr(scan_audit, "work_counters",
                        lambda spark: measured)
    return scan_audit.work_gate(None)


def _counters(**over):
    c = dict.fromkeys(scan_audit.WORK_COUNTERS, 10)
    c.update(over)
    return c


def test_work_pins_file_contract():
    """Every headline query is pinned, with every gated counter, and
    nothing else is: the committed ceilings are what the gate reads."""
    from transcript_analysis_spark.plans import all_queries
    headline = {n for n, q in all_queries().items() if q.headline}
    pins = scan_audit.load_work_pins()
    assert set(pins) == headline
    for name, pin in pins.items():
        assert set(pin) == set(scan_audit.WORK_COUNTERS), name
        assert all(isinstance(v, int) and v >= 0 for v in pin.values())
    assert "_comment" in json.load(open(scan_audit.WORK_PINS_PATH))


def test_work_gate_green_at_ceilings(monkeypatch, tmp_path, capsys):
    v = _fake_work_gate(monkeypatch, {"q": _counters()},
                        {"q": _counters()}, tmp_path)
    assert v == [] and "note:" not in capsys.readouterr().out


def test_work_gate_flags_counter_above_ceiling(monkeypatch, tmp_path):
    """One more Exchange's rows (an un-fused plan) is a violation
    naming the query and the counter."""
    v = _fake_work_gate(monkeypatch,
                        {"q": _counters(**{"rows.Exchange": 11})},
                        {"q": _counters()}, tmp_path)
    assert len(v) == 1
    assert v[0].startswith("q: rows.Exchange 11 exceeds pinned ceiling 10")


def test_work_gate_notes_counter_below_ceiling(monkeypatch, tmp_path,
                                               capsys):
    v = _fake_work_gate(monkeypatch, {"q": _counters(jobs=7)},
                        {"q": _counters()}, tmp_path)
    assert v == []
    out = capsys.readouterr().out
    assert "note: q jobs 7 is below its pinned ceiling 10" in out
    assert "tighten the pin" in out


def test_work_gate_slack_covers_only_the_jittering_counters(
        monkeypatch, tmp_path, capsys):
    """Shuffle bytes and partial-aggregate rows move a little with
    unchanged code; inside their slack they neither fail nor ask for
    a tighter pin, past it they fail. Exact counters have no slack."""
    pin = _counters(shuffle_write_bytes=100_000,
                    **{"rows.HashAggregate": 100_000})
    inside = _counters(shuffle_write_bytes=100_900,
                       **{"rows.HashAggregate": 96_000})
    assert _fake_work_gate(monkeypatch, {"q": inside}, {"q": pin},
                           tmp_path) == []
    assert "note:" not in capsys.readouterr().out
    past = _counters(shuffle_write_bytes=101_100,
                     **{"rows.HashAggregate": 105_100})
    v = _fake_work_gate(monkeypatch, {"q": past}, {"q": pin}, tmp_path)
    assert [x.split(" exceeds")[0] for x in v] == [
        "q: shuffle_write_bytes 101100", "q: rows.HashAggregate 105100"]
    assert "by more than 1%" in v[0] and "by more than 5%" in v[1]


def test_work_gate_flags_unpinned_headline_query(monkeypatch, tmp_path):
    v = _fake_work_gate(monkeypatch,
                        {"q": _counters(), "new_q": _counters()},
                        {"q": _counters()}, tmp_path)
    assert len(v) == 1 and v[0].startswith("new_q: headline query has "
                                           "no work pin")


def test_work_gate_notes_stale_pin(monkeypatch, tmp_path, capsys):
    v = _fake_work_gate(monkeypatch, {"q": _counters()},
                        {"q": _counters(), "gone_q": _counters()},
                        tmp_path)
    assert v == []
    assert "note: stale work pin for 'gone_q'" in capsys.readouterr().out


def test_work_gate_fails_when_pinned_dataset_missing(monkeypatch,
                                                     tmp_path):
    """The gate never skips: a missing dataset is a violation."""
    v = _fake_work_gate(monkeypatch, {"q": _counters()},
                        {"q": _counters()}, tmp_path / "absent")
    assert len(v) == 1 and "is missing" in v[0]


def test_real_gate_green_against_committed_pins():
    """The real gate subprocess — work pass in a fresh JVM, then the
    compiled scan ceilings — is green against the committed pins, so
    a plan-work or scan-count regression fails the test suite."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scan_audit.py"),
         "--gate"], capture_output=True, text=True, timeout=1200)
    out = r.stdout.replace("\r", "\n")
    assert "-- work gate: 0 violation(s)" in out, out[-3000:]
    assert "-- scan gate: 0 violation(s)" in out, out[-3000:]
    assert r.returncode == 0, r.stderr[-3000:]
