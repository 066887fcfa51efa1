"""Per-layer metrics of one traced run, from the benchmark's spans and
the Spark event log. Every workload reports every name; a layer a
workload bypasses reads 0. Sums are per timed operation (a pass over
the corpus queries, a dashboard request, a micro-batch)."""

from __future__ import annotations

import statistics

from eventlog import ROW_KINDS, EventLog
from workloads import CORPUS_QUERIES, DASHBOARD_QUERIES, Result, Span

# The PipelineStores directories, as PipelineStores.under names them,
# and the islands store's sibling that records deliveries.
STORES = ("bands", "pairs", "tombstones", "bloom", "decontam",
          "dsir_weights", "dsir_scores", "kept", "perceptron_root", "cms",
          "hll", "centroid", "assign", "pca", "sample", "islands",
          "islands_deliveries")

# name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.write_bytes": "bytes",
    "sources.write_rows": "count",
    "sources.files_written": "count",
    "plans.build_s": "s",
    "plans.driver_only_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.executor_cpu_s": "s",
    "plans.executor_run_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_bytes": "bytes",
    "plans.shuffle_write_records": "count",
    "plans.shuffle_fetch_wait_s": "s",
    "plans.spill_bytes": "bytes",
    "plans.peak_exec_mem_mb": "MB",
    "plans.task_skew": "ratio",
    **{f"plans.rows.{k}": "count" for k in ROW_KINDS},
    **{f"plans.query_s.{q}": "s" for q in CORPUS_QUERIES + DASHBOARD_QUERIES},
    "operators.python_rows": "count",
    "operators.python_bytes": "bytes",
    "streaming.init_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.kept_ratio": "ratio",
    "streaming.write_bytes_per_input_byte": "ratio",
    "streaming.files_per_batch": "count",
    **{f"streaming.store_bytes.{s}": "bytes" for s in STORES},
    **{f"streaming.store_files.{s}": "count" for s in STORES},
    "serving.hit_ratio": "ratio",
    "serving.hit_ms": "ms",
    "serving.miss_ms": "ms",
    "serving.timeouts": "count",
    "serving.req_tail_ms": "ms",
    "trace.p50_ms": "ms",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _uncovered(start: float, end: float, intervals) -> float:
    """Seconds of [start, end] (epoch s) covered by no interval."""
    covered, cursor = 0.0, start
    for a, b in sorted((a / 1e3, b / 1e3) for a, b in intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return (end - start) - covered


def per_layer(workload: str, spans: list[Span], log: EventLog,
              result: Result, tail_ms: float,
              peak_mb: float) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    timed = [s for s in spans if s.phase == "timed"]
    session = [s.seconds for s in spans if s.layer == "session"]
    m["session.start_s"] = session[0] if session else 0.0
    m["session.peak_rss_mb"] = peak_mb
    m["trace.p50_ms"] = _median(result.latencies) * 1e3
    m["serving.req_tail_ms"] = tail_ms
    # one operation = one latency sample
    n_ops = max(len(result.latencies), 1)

    driver_only = sum(_uncovered(s.start, s.start + s.seconds,
                                 log.stage_intervals({s.tag}))
                      for s in timed)
    t = log.totals({s.tag for s in timed})
    per_op = {
        "sources.scan_bytes": t["input_bytes"],
        "sources.scan_rows": t["input_records"],
        "sources.write_bytes": t["output_bytes"],
        "sources.write_rows": t["output_records"],
        "sources.files_written": t["files_written"],
        "plans.build_s": sum(s.attrs.get("build_s", 0.0) for s in timed),
        "plans.driver_only_s": driver_only,
        "plans.jobs": t["jobs"],
        "plans.stages": t["stages"],
        "plans.tasks": t["tasks"],
        "plans.executor_cpu_s": t["cpu_ns"] / 1e9,
        "plans.executor_run_s": t["run_ms"] / 1e3,
        "plans.gc_s": t["gc_ms"] / 1e3,
        "plans.shuffle_write_bytes": t["shuffle_write_bytes"],
        "plans.shuffle_write_records": t["shuffle_write_records"],
        "plans.shuffle_fetch_wait_s": t["fetch_wait_ms"] / 1e3,
        "plans.spill_bytes": t["spill_bytes"],
        "operators.python_rows": t["python_rows"],
        "operators.python_bytes": t["python_bytes"],
        **{f"plans.rows.{k}": t[f"rows.{k}"] for k in ROW_KINDS},
    }
    m.update({k: v / n_ops for k, v in per_op.items()})
    m["plans.peak_exec_mem_mb"] = t["peak_exec_mem"] / 2**20
    m["plans.task_skew"] = t["task_skew"]

    for q in CORPUS_QUERIES + DASHBOARD_QUERIES:
        m[f"plans.query_s.{q}"] = _median(
            [s.seconds for s in timed if s.name == q
             and not s.attrs.get("hit") and not s.attrs.get("timeout")])

    if workload == "stream_ingest":
        init = [s.seconds for s in spans if s.name == "init"]
        m["streaming.init_s"] = init[0] if init else 0.0
        m["streaming.jobs_per_batch"] = t["jobs"] / n_ops
        for k in ("kept_ratio", "write_bytes_per_input_byte",
                  "files_per_batch"):
            m[f"streaming.{k}"] = result.extra[k]
        for store, (nbytes, nfiles) in result.extra["store_writes"].items():
            m[f"streaming.store_bytes.{store}"] = nbytes
            m[f"streaming.store_files.{store}"] = nfiles

    if workload == "dashboard_mixed":
        hits = [s.seconds for s in timed if s.attrs.get("hit")]
        misses = [s.seconds for s in timed if s.attrs.get("hit") is False]
        m["serving.hit_ratio"] = len(hits) / max(len(timed), 1)
        m["serving.hit_ms"] = _median(hits) * 1e3
        m["serving.miss_ms"] = _median(misses) * 1e3
        m["serving.timeouts"] = sum(bool(s.attrs.get("timeout"))
                                    for s in timed)
    return m
