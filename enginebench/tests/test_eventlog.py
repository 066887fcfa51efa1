"""The event-log parser on a tiny local job with a known answer."""

from __future__ import annotations

import pytest

import eventlog
from layers import _uncovered


@pytest.fixture(scope="module")
def log(tmp_path_factory):
    from pyspark.sql import SparkSession
    root = tmp_path_factory.mktemp("eventlog")
    (root / "log").mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", str(root / "log"))
             .getOrCreate())
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(eventlog.SPAN_PROPERTY, "g:explode")
        rows = (spark.range(100)
                .selectExpr("id % 5 AS k", "explode(array(id, id)) AS v")
                .groupBy("k").count().collect())
        assert len(rows) == 5
        sc.setLocalProperty(eventlog.SPAN_PROPERTY, "g:write")
        spark.range(30).repartition(3).write.parquet(str(root / "out"))
        sc.setLocalProperty(eventlog.SPAN_PROPERTY, None)
    finally:
        spark.stop()
    return eventlog.parse(root / "log")


def test_jobs_are_attributed_to_their_span(log):
    assert {"g:explode", "g:write"} <= set(log.jobs.values())
    t = log.totals({"g:explode"})
    assert t["jobs"] >= 1 and t["stages"] >= 2 and t["tasks"] >= 4
    assert t["cpu_ns"] > 0 and t["run_ms"] >= 0


def test_operator_rows_come_from_sql_accumulators(log):
    t = log.totals({"g:explode"})
    assert t["rows.Generate"] == 200              # two rows per id
    assert t["rows.Exchange"] == t["shuffle_write_records"] > 0
    assert t["rows.HashAggregate"] >= 5
    assert log.totals({"g:write"})["rows.Generate"] == 0


def test_write_counters(log):
    t = log.totals({"g:write"})
    assert t["output_records"] == 30
    assert t["output_bytes"] > 0
    assert t["files_written"] == 3


def test_stage_intervals_lie_inside_the_run(log):
    spans = log.stage_intervals({"g:explode", "g:write"})
    assert spans and all(0 < a <= b for a, b in spans)


def test_uncovered_time():
    ms = [(1_000, 2_000), (1_500, 3_000), (5_000, 6_000)]
    assert _uncovered(0.0, 10.0, ms) == pytest.approx(7.0)
    assert _uncovered(2.0, 2.5, ms) == pytest.approx(0.0)
