"""Standard-library reader for uncompressed Spark event logs
(``spark.eventLog.compress=false``; Spark 4 writes rolling
``eventlog_v2_*/events_<n>_*`` files).

It attributes every job to the benchmark span that ran it, read from
the job's ``SPAN_PROPERTY`` local property, then sums each stage's
``Task Metrics`` and each SQL plan node's accumulators into per-span
counters. ``EventLog.totals(tags)`` adds the counters of any set of
spans, which is how the benchmark turns a trace into per-layer
metrics.
"""

from __future__ import annotations

import json
import re
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

# The Spark local property the benchmark tags each span's jobs with.
SPAN_PROPERTY = "enginebench.span"

# Counter keys for SQL node metrics (operator output rows by type and
# the Python boundary); task-metric keys are in _TASK_KEYS below.
ROW_KINDS = ("Generate", "Exchange", "HashAggregate", "Join", "Scan")
PY_SENT, PY_RETURNED = ("data sent to Python workers",
                        "data returned from Python workers")


@dataclass
class Stage:
    tag: str | None
    submit_ms: int = 0
    end_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    counters: Counter = field(default_factory=Counter)


@dataclass
class EventLog:
    jobs: dict[int, str | None] = field(default_factory=dict)  # id -> tag
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    sql: dict[str | None, Counter] = field(default_factory=dict)

    def totals(self, tags) -> Counter:
        """Summed counters over ``tags``: jobs, stages, tasks, task
        metrics, SQL metrics, plus ``peak_exec_mem`` (max) and
        ``task_skew`` (max over stages of max/median task time)."""
        tags = set(tags)
        out = Counter(jobs=sum(t in tags for t in self.jobs.values()))
        peak = skew = 0.0
        for st in self.stages.values():
            if st.tag not in tags or not st.task_ms:
                continue
            out["stages"] += 1
            out["tasks"] += len(st.task_ms)
            peak = max(peak, st.counters["peak_exec_mem"])
            out.update({k: v for k, v in st.counters.items()
                        if k != "peak_exec_mem"})
            if len(st.task_ms) > 1:
                ms = sorted(st.task_ms)
                med = ms[(len(ms) - 1) // 2]
                skew = max(skew, ms[-1] / max(med, 1))
        for t in tags:
            out.update(self.sql.get(t, Counter()))
        out["peak_exec_mem"] = peak
        out["task_skew"] = skew
        return out

    def stage_intervals(self, tags) -> list[tuple[int, int]]:
        """(submit, end) epoch-ms of every stage run by ``tags``."""
        tags = set(tags)
        return [(s.submit_ms, s.end_ms) for s in self.stages.values()
                if s.tag in tags and s.task_ms]


# Task Metrics fields -> counter key
_TASK_KEYS = {
    "Executor CPU Time": "cpu_ns",
    "Executor Run Time": "run_ms",
    "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "spill_bytes",
    "Disk Bytes Spilled": "spill_bytes",
}
_NESTED_KEYS = {
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): "shuffle_write_bytes",
    ("Shuffle Write Metrics", "Shuffle Records Written"):
        "shuffle_write_records",
    ("Shuffle Read Metrics", "Fetch Wait Time"): "fetch_wait_ms",
    ("Input Metrics", "Bytes Read"): "input_bytes",
    ("Input Metrics", "Records Read"): "input_records",
    ("Output Metrics", "Bytes Written"): "output_bytes",
    ("Output Metrics", "Records Written"): "output_records",
}


def _row_kind(node: str) -> str | None:
    if node.startswith(("Scan", "FileScan", "BatchScan")):
        return "Scan"
    if node.endswith("Join") or node == "CartesianProduct":
        return "Join"
    if node in ("HashAggregate", "ObjectHashAggregate"):
        return "HashAggregate"
    if node in ("Generate", "Exchange"):
        return node
    return None


def _sql_key(node: str, metric: str, python_node: bool) -> str | None:
    """Counter key for one SQL metric of one plan node, or None."""
    if metric in (PY_SENT, PY_RETURNED):
        return "python_bytes"
    if metric == "number of written files":
        return "files_written"
    if python_node and metric == "number of output rows":
        return "python_rows"
    kind = _row_kind(node)
    if kind == "Exchange" and metric == "shuffle records written":
        return "rows.Exchange"
    if kind and kind != "Exchange" and metric == "number of output rows":
        return f"rows.{kind}"
    return None


def _walk_plan(node: dict, accums: dict[int, str]) -> None:
    names = {m["name"] for m in node.get("metrics", ())}
    python_node = PY_SENT in names
    for m in node.get("metrics", ()):
        key = _sql_key(node["nodeName"], m["name"], python_node)
        if key:
            accums[m["accumulatorId"]] = key
    for child in node.get("children", ()):
        _walk_plan(child, accums)


def event_files(log_dir: Path) -> list[Path]:
    """Every ``events_*`` file under ``log_dir``, in write order."""
    def order(p: Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0)
    return sorted((p for p in Path(log_dir).rglob("events_*")
                   if not p.name.endswith(".crc")), key=order)


def parse(log_dir: Path) -> EventLog:
    log = EventLog()
    stage_tag: dict[int, str | None] = {}
    exec_tag: dict[int, str | None] = {}
    accums: dict[int, str] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                _apply(json.loads(line), log, stage_tag, exec_tag,
                       accums)
    return log


def _apply(ev: dict, log: EventLog, stage_tag, exec_tag, accums):
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        tag = props.get(SPAN_PROPERTY)
        log.jobs[ev["Job ID"]] = tag
        for sid in ev["Stage IDs"]:
            stage_tag[sid] = tag
        if "spark.sql.execution.id" in props:
            exec_tag.setdefault(int(props["spark.sql.execution.id"]),
                                  tag)
    elif kind == "SparkListenerTaskEnd":
        sid, attempt = ev["Stage ID"], ev["Stage Attempt ID"]
        st = log.stages.setdefault(
            (sid, attempt), Stage(stage_tag.get(sid)))
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        st.task_ms.append(info["Finish Time"] - info["Launch Time"])
        c = st.counters
        for src, key in _TASK_KEYS.items():
            c[key] += tm.get(src, 0)
        for (outer, inner), key in _NESTED_KEYS.items():
            c[key] += (tm.get(outer) or {}).get(inner, 0)
        c["peak_exec_mem"] = max(c["peak_exec_mem"],
                                 tm.get("Peak Execution Memory", 0))
        sql = log.sql.setdefault(st.tag, Counter())
        for acc in info.get("Accumulables", ()):
            key = accums.get(acc["ID"])
            if key and acc.get("Update") is not None:
                sql[key] += int(acc["Update"])
    elif kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        st = log.stages.setdefault(
            (si["Stage ID"], si["Stage Attempt ID"]),
            Stage(stage_tag.get(si["Stage ID"])))
        st.submit_ms = si.get("Submission Time", 0)
        st.end_ms = si.get("Completion Time", 0)
    elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        _walk_plan(ev["sparkPlanInfo"], accums)
    elif kind.endswith("DriverAccumUpdates"):
        sql = log.sql.setdefault(exec_tag.get(ev["executionId"]),
                                 Counter())
        for acc_id, value in ev["accumUpdates"]:
            key = accums.get(acc_id)
            if key:
                sql[key] += int(value)
