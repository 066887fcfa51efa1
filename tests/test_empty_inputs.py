"""Every registered query must survive EMPTY input tables.

At 100 TB, empty inputs are not an edge case — a partition filter, a
fresh ingest, or a quarantine split routinely hands an operator zero
rows, and a plan that crashes there takes the whole job with it.
Found-by-this-gate: kmeans/_lloyd built an untypeable zero-length
literal centroid array, which now short-circuits to its contract
schema. The exact similarity self-join needs no such guard: an empty
table gives no tiles, so its kernel never runs."""

from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _queries():
    from transcript_analysis_spark.plans import all_queries
    return sorted(all_queries())


@pytest.fixture(scope="session")
def empty_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_tables")
    for t in TABLES:
        (spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
         .limit(0).write.parquet(str(d / f"{t}.parquet")))
    return str(d)


@pytest.mark.parametrize("name", _queries())
def test_query_survives_empty_tables(spark, empty_dir, name):
    from transcript_analysis_spark.plans import all_queries
    df = all_queries()[name].fn(spark, empty_dir)
    # Counting forces full execution; the row count itself is free to
    # be zero or a constant (e.g. COUNT(*) aggregates emit one row).
    assert df.count() >= 0
