"""Shared-subtree scan audit + mechanical gate — the r9 tool behind
the exchange-reuse doctrine (SCALE.md "Round-9 continuation 4"),
hardened into a release gate per the r9 verdict ("next round" item 1).

Pass 1 (compiled): builds every registered query's physical plan and
counts same-table FileScans. A count >= 2 means a subtree is
REFERENCED more than once — it does NOT yet mean recomputation:
column pruning makes per-column scans cheap, and AQE's
ReusedExchange computes identical exchanges once per query at
runtime.

Pass 2 (runtime, --verify [threshold]): for every query at or above
the threshold (default 4), EXECUTES it at sf0.001 and reports the
ReusedExchange count from the final adaptive plan. The actionable
signal is "high compiled scan count AND zero runtime reuse": the
repeated subtree is map-only (nothing for reuse to dedup) or a
differing-key aggregation fan — the two cases that justify an
explicit localCheckpoint pin or a structural one-pass rewrite,
CONFIRMED BY an sf0.1 A/B measurement (eager pins serialize; they
lose at toy scale whenever reuse already covered the work — see
ROUND9_NOTES continuations 3-4 for both directions, measured).

The default --verify threshold is 4 deliberately: the 2-3x tail
(27 zero-reuse queries at r9) is overwhelmingly two-sided BASE-TABLE
reads — self-joins (as-of, blocked pairs), compare-two-derivations
queries (hll vs exact), and dim+fact splits of one table — where
each branch scans with its own pushed filters and pruned columns.
That is the correct shape (total bytes ~ one wide scan), not
shared-subtree recomputation; the doctrine targets repeated
DERIVED subtrees, not base scans.

Gate mode (--gate): the repo-wide invariant, mechanically enforced —
a build error, a query whose compiled same-table scan count exceeds
its pinned ceiling (tools/scan_pins.json; unpinned queries default to
ceiling 1, so every NEW multi-scan shape must be pinned consciously),
or a >= GATE_RUNTIME_THRESHOLD query with ZERO runtime ReusedExchange
that is not in KNOWN_EXCEPTIONS, fails the gate (exit 1). Intentional
shape changes are made by editing scan_pins.json (regenerate a
proposal with --emit-pins and REVIEW the diff — never blind-accept).
Run by tools/release_check.py so a multi-scan plan regression fails
at commit time instead of waiting for a judge.

Work gate (also --gate, run first, in a fresh JVM): the 21 headline
queries run once each through the noop sink on a fixed dataset
(WORK_SF_DIR) and a fixed shape (WORK_SHAPE: 4 cores, 4 shuffle
partitions, 2g driver), with the uncompressed Spark event log on and
each query's jobs tagged with its name. enginebench/eventlog.py sums
the log into per-query counters (WORK_COUNTERS: jobs, stages, tasks,
shuffle records and bytes, spill, input records, Python rows and
per-operator output rows), which are compared against the ceilings in
tools/work_pins.json. These counters do not move with machine load:
equal code gives equal counters (within WORK_SLACK for shuffle bytes
and partial-aggregate rows), so a counter above its ceiling is a
plan-shape change, named by query and counter. An unpinned headline
query fails; a counter below its ceiling prints a "tighten the pin"
note. The gate fails, never skips, when WORK_SF_DIR is missing.

--emit-pins rewrites both pins files (tools/scan_pins.json from
sf_dir, tools/work_pins.json from the work pass); REVIEW the diff
(git diff tools/) — every raised ceiling needs a measured reason.

Usage:
  python tools/scan_audit.py [--verify [N]] [sf_dir]   # audit report
  python tools/scan_audit.py --gate [sf_dir]           # exit 1 on drift
  python tools/scan_audit.py --emit-pins [sf_dir]      # rewrite pins
"""

from __future__ import annotations

import json
import os
import re
import shlex
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

PINS_PATH = os.path.join(ROOT, "tools", "scan_pins.json")
WORK_PINS_PATH = os.path.join(ROOT, "tools", "work_pins.json")

# The work gate's fixed inputs. Its counters are compared against
# ceilings measured in this shape, so the data, the core count and
# shuffle partitions (which set task counts) and the driver heap
# (which decides spills) are pinned here, not taken from the caller's
# environment.
WORK_SF_DIR = "/root/testdata/sf0.01"
WORK_SHAPE = {"SPARK_MASTER": "local[4]", "SPARK_GRAFT_CPUS": "4",
              "SPARK_SHUFFLE_PARTITIONS": "4", "SPARK_DRIVER_MEMORY": "2g"}
# Per-query counters the work gate pins.
WORK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_records",
                 "shuffle_write_bytes", "spill_bytes", "input_records",
                 "python_rows", "rows.Generate", "rows.Exchange",
                 "rows.HashAggregate", "rows.Join", "rows.Scan")
# Relative slack of the two counters that move with unchanged code.
# Compressed shuffle bytes follow the row order inside each map output
# (seen: +0.2% on corpus_release_prep), and partial aggregates emit a
# row per key per partition, so their output follows which partition
# each row lands in (seen: pagerank_purchase_graph 121,038 or 124,238
# rows, 2.6%, across runs in one JVM). Every other counter is exact.
WORK_SLACK = {"shuffle_write_bytes": 0.01, "rows.HashAggregate": 0.05}

# Queries whose compiled count can reach the runtime-check threshold
# with zero reuse, MEASURED and deliberately left alone.
KNOWN_EXCEPTIONS = {
    "orders_table_profile":
        "per-column aggregates are COLUMN-PRUNED one-column scans "
        "(same total bytes as one wide scan); the one-pass "
        "multi-distinct rewrite measured 4x slower via the distinct "
        "Expand and was rejected (ROUND9_NOTES continuation 4)",
}

# Same threshold rationale as --verify (module docstring): below 4 the
# zero-reuse tail is two-sided base-table reads, the correct shape.
GATE_RUNTIME_THRESHOLD = 4


def compiled_scan_counts(spark, sf_dir: str):
    """Yield (name, per-table same-table FileScan counts, error) for
    every registered query, compiled (not executed) at sf_dir."""
    from transcript_analysis_spark.plans import all_queries

    for name, q in sorted(all_queries().items()):
        try:
            plan = (q.fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as e:  # noqa: BLE001 - reported to caller
            yield name, {}, f"BUILD ERROR {type(e).__name__}"
            continue
        counts = {t: c for t in TABLES
                  if (c := len(re.findall(
                      rf"FileScan parquet.*{t}\.parquet", plan)))}
        yield name, counts, None


def runtime_reused_count(spark, sf_dir: str, name: str) -> int:
    """ReusedExchange occurrences in the FINAL adaptive plan after
    executing the query (a write would spawn a separate execution)."""
    from transcript_analysis_spark.plans import all_queries

    df = all_queries()[name].fn(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    return final.count("ReusedExchange")


def load_pins() -> dict[str, int]:
    with open(PINS_PATH) as f:
        data = json.load(f)
    return {k: int(v) for k, v in data.items() if not k.startswith("_")}


def load_work_pins() -> dict[str, dict[str, int]]:
    with open(WORK_PINS_PATH) as f:
        data = json.load(f)
    return {k: v for k, v in data.items() if not k.startswith("_")}


def configure_work_shape() -> str:
    """Pin the work pass's shape and turn the uncompressed event log on
    (into a fresh temporary directory, returned). Must run before the
    JVM starts."""
    log_dir = tempfile.mkdtemp(prefix="work-gate-eventlog-")
    conf = {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir}
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update(WORK_SHAPE,
                      PYSPARK_SUBMIT_ARGS=shlex.join(args + ["pyspark-shell"]))
    return log_dir


def work_counters(spark) -> dict[str, dict[str, int]]:
    """Run every headline query once through the noop sink at
    WORK_SF_DIR, each query's jobs tagged with its name, then stop the
    session (which flushes the event log) and return each query's
    WORK_COUNTERS. Needs a session started after configure_work_shape."""
    from enginebench.eventlog import SPAN_PROPERTY, parse
    from transcript_analysis_spark.plans import all_queries

    sc = spark.sparkContext
    log_dir = sc.getConf().get("spark.eventLog.dir")
    names = []
    for name, q in sorted(all_queries().items()):
        if not q.headline:
            continue
        names.append(name)
        sc.setLocalProperty(SPAN_PROPERTY, name)
        q.fn(spark, WORK_SF_DIR).write.format("noop").mode("overwrite").save()
    sc.setLocalProperty(SPAN_PROPERTY, None)
    spark.stop()
    log = parse(log_dir)
    out = {}
    for name in names:
        totals = log.totals([name])
        out[name] = {k: int(totals[k]) for k in WORK_COUNTERS}
    return out


def work_gate(spark) -> list[str]:
    """Violation list of the work gate (empty = green). See module
    docstring."""
    if not os.path.isdir(WORK_SF_DIR):
        return [f"work gate: pinned dataset {WORK_SF_DIR} is missing"]
    pins = load_work_pins()
    measured = work_counters(spark)
    violations: list[str] = []
    for name, counters in sorted(measured.items()):
        pin = pins.get(name)
        if pin is None:
            violations.append(
                f"{name}: headline query has no work pin — run "
                f"--emit-pins and review the diff")
            continue
        for key in WORK_COUNTERS:
            got, ceiling = counters[key], pin.get(key, 0)
            slack = WORK_SLACK.get(key, 0.0)
            if got > ceiling * (1 + slack):
                over = f" by more than {slack:.0%}" if slack else ""
                violations.append(
                    f"{name}: {key} {got} exceeds pinned ceiling "
                    f"{ceiling}{over} — the plan does more work; fix it "
                    f"or re-pin with a measured reason")
            elif got < ceiling * (1 - slack):
                print(f"  note: {name} {key} {got} is below its pinned "
                      f"ceiling {ceiling}; tighten the pin")
    for name in sorted(set(pins) - set(measured)):
        print(f"  note: stale work pin for '{name}', not a headline query")
    return violations


def gate(spark, sf_dir: str) -> list[str]:
    """Violation list (empty = gate green). See module docstring."""
    pins = load_pins()
    violations: list[str] = []
    seen: set[str] = set()
    hot: list[tuple[str, int]] = []
    for name, counts, err in compiled_scan_counts(spark, sf_dir):
        seen.add(name)
        if err:
            violations.append(f"{name}: {err}")
            continue
        peak = max(counts.values(), default=0)
        ceiling = pins.get(name, 1)
        if peak > ceiling:
            violations.append(
                f"{name}: compiled same-table scan count {peak} "
                f"exceeds pinned ceiling {ceiling} ({counts}) — a new "
                f"multi-scan shape; measure it (sf0.1 A/B, see the "
                f"doctrine) and either fix the plan or re-pin")
            continue  # already failing; don't also execute it
        elif name in pins and peak < ceiling:
            # improvement, not a failure — but surface the slack so
            # explicit pins ratchet down instead of rotting (the
            # default-1 ceiling with peak 0 is just a checkpoint-pinned
            # plan, not slack)
            print(f"  note: {name} compiled count {peak} is below its "
                  f"pinned ceiling {ceiling}; tighten the pin")
        if peak >= GATE_RUNTIME_THRESHOLD and name not in KNOWN_EXCEPTIONS:
            hot.append((name, peak))
    for name in sorted(set(pins) - seen):
        print(f"  note: stale pin for unregistered query '{name}'")
    for name, peak in hot:
        reused = runtime_reused_count(spark, sf_dir, name)
        if reused == 0:
            violations.append(
                f"{name}: {peak} same-table scans with ZERO runtime "
                f"ReusedExchange and no KNOWN_EXCEPTIONS entry — "
                f"map-only repeat or differing-key fan; pin/rewrite "
                f"(measured) or document the exception")
    return violations


def main() -> None:
    args = [a for a in sys.argv[1:]]
    if "--selfcheck" in args:
        # Clean-shell import canary (r12 verdict item 2): deferred
        # engine imports + both pins files, no JVM.
        from enginebench.eventlog import parse  # noqa: F401
        from transcript_analysis_spark.plans import all_queries
        from transcript_analysis_spark.session import get_spark  # noqa: F401
        pins, work_pins = load_pins(), load_work_pins()
        print(f"selfcheck OK: {len(all_queries())} queries, "
              f"{len(pins)} scan pins, {len(work_pins)} work pins loadable")
        return
    verify = "--verify" in args
    gate_mode = "--gate" in args
    emit = "--emit-pins" in args
    for flag in ("--verify", "--gate", "--emit-pins"):
        if flag in args:
            args.remove(flag)
    threshold = 4
    # The threshold positional only makes sense with --verify; without
    # it a digits-only sf_dir argument would be silently eaten here.
    if verify and args and args[0].isdigit():
        threshold = int(args.pop(0))
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    from transcript_analysis_spark.session import get_spark

    log_dir = configure_work_shape() if gate_mode or emit else None
    try:
        if log_dir:
            # the work pass runs first, in a fresh JVM, and stops it
            spark = get_spark("work-gate")
            spark.sparkContext.setLogLevel("ERROR")
            if emit:
                work = work_counters(spark)
            else:
                work_violations = work_gate(spark)
            # The scan session below starts in the same JVM, whose
            # system properties still carry the work pass's event-log
            # conf. Its log would live in log_dir, which the finally
            # clause deletes while that session is open, and Spark's
            # shutdown hook would then fail to finalize it.
            from pyspark import SparkContext
            SparkContext._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", "false")
        spark = get_spark("scan-audit")
        spark.sparkContext.setLogLevel("ERROR")

        if emit:
            pins = {name: max(counts.values())
                    for name, counts, err in compiled_scan_counts(spark, sf_dir)
                    if not err and counts and max(counts.values()) >= 2}
            pins["_comment"] = (  # type: ignore[assignment]
                "Compiled same-table FileScan-count CEILINGS per query "
                "(max over tables); unpinned queries default to 1. "
                "Regenerate with scan_audit.py --emit-pins and REVIEW the "
                "diff — every raised ceiling needs a measured reason.")
            work["_comment"] = (  # type: ignore[assignment]
                "Work-counter CEILINGS per headline query: Spark event-log "
                "counters of one noop-sink run each, in scan_audit.py's "
                "fixed work shape (WORK_SF_DIR, WORK_SHAPE). Regenerate "
                "with scan_audit.py --emit-pins and REVIEW the diff — "
                "every raised ceiling needs a measured reason.")
            for path, data in ((PINS_PATH, pins), (WORK_PINS_PATH, work)):
                with open(path, "w") as f:
                    f.write(json.dumps(data, indent=2, sort_keys=True) + "\n")
                print(f"wrote {path}")
            return

        if gate_mode:
            for v in work_violations:
                print(f"VIOLATION {v}", flush=True)
            print(f"-- work gate: {len(work_violations)} violation(s)")
            violations = gate(spark, sf_dir)
            for v in violations:
                print(f"VIOLATION {v}", flush=True)
            print(f"-- scan gate: {len(violations)} violation(s)")
            sys.exit(1 if violations or work_violations else 0)
    finally:
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)

    flagged: list[tuple[str, dict[str, int]]] = []
    for name, counts, err in compiled_scan_counts(spark, sf_dir):
        if err:
            print(f"{name}: {err}", flush=True)
            continue
        hot = {t: c for t, c in counts.items() if c >= 2}
        if hot:
            flagged.append((name, hot))
            print(f"{name}: {hot}", flush=True)
    print(f"-- {len(flagged)} queries with a same-table scan count >= 2")

    if not verify:
        return
    print(f"-- runtime reuse check (compiled count >= {threshold}):")
    for name, hot in flagged:
        if max(hot.values()) < threshold:
            continue
        reused = runtime_reused_count(spark, sf_dir, name)
        if reused:
            verdict = "ok (runtime reuse)"
        elif name in KNOWN_EXCEPTIONS:
            verdict = f"ok, measured exception: {KNOWN_EXCEPTIONS[name]}"
        else:
            verdict = ("INVESTIGATE (no reuse — map-only or "
                       "differing-key fan?)")
        print(f"{name}: compiled {hot}, ReusedExchange {reused} "
              f"-> {verdict}", flush=True)


if __name__ == "__main__":
    main()
