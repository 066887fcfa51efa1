"""SparkSession factory with scale-appropriate defaults.

The engine targets a large multi-executor cluster; tests run on
``local[N]``. Every setting here is chosen to behave identically in
both shapes:

- AQE on (runtime coalesce + skew-join splitting survive a 100x
  scale-up where static partition counts would not).
- Arrow on (vectorized pandas UDF / toPandas path).
- UTC session timezone (parity with parquet/DuckDB UTC-naive
  timestamps — see pitfalls in the PySpark docs).
- shuffle partitions sized by env for local runs; on a real cluster
  AQE coalesces the 2x-overprovisioned default down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's compiled-class cache (the static
# spark.sql.codegen.cache.maxEntries). Every cache miss is a Janino
# compile, on the driver or in a task. Working sets, measured as
# CodegenMetrics compile counts over repeated passes of each
# enginebench workload's query set (local[4], seed-7 data; a pass's
# compiles at an unbounded cache are the classes it adds):
#   corpus_batch, 5 queries:     137 classes, 177 after 4 passes (AQE
#                                plan variants of corpus_release_prep);
#   dashboard_mixed, 12 queries: 124, 132 after 4 passes;
#   streaming pipeline:          297 for store init and the first
#                                batch, 513 after 5 more batches (each
#                                later batch adds 29-77 new classes).
# Spark's default of 100 holds none of these, so every pass evicted
# what the next one needed: repeated corpus passes recompiled 110-130
# of 137 classes, dashboard passes 114 of 124, stream batches ~270.
# At 2000 repeated corpus passes compile 0-22 (corpus_release_prep's
# AQE variants, settling), dashboard passes 0-8, and stream batches
# only their new classes (29-77, the unbounded cache's counts).
# The cache is a Guava cache of 4 segments that each evict on their
# own at a quarter of the size, so a working set needs about 2x
# headroom to stay resident; 2000 is ~4x the largest (stream, 513)
# and holds another ~35 batches' new classes before LRU eviction
# drops the stale ones. Retained classes cost no JIT headroom: after
# 4 corpus passes the code heaps used 60-67 MB of 240 MB reserved
# (65-72 MB at the default), Metaspace 158-159 MB (158-163 MB), and
# block-at-a-time minhash and gopher times did not move (r14 kept
# the default on a +36% reading there; see OPTIMIZATION_r14.md
# section 3).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(app_name: str = "transcript-analysis-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cpus)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The r13 SHJ-preference pair (preferSortMergeJoin=false +
        # adaptive.maxShuffledHashJoinLocalMapThreshold=64m) was
        # REMOVED in r14: post-execution AQE final plans for every
        # query the r13 A/B cited (pagerank, ngram, mllib_lsh, bloom,
        # corpus_release_prep, training_data_prep) contain ZERO
        # ShuffledHashJoin and are node-for-node identical with and
        # without the confs (plans/r14/*), and a null A/B (identical
        # builders in both arms) reproduced the r13 "wins" as a
        # first-position harness artifact (tools/ab_bench.py r14
        # note). Defaults also remove the documented risk of a
        # non-spilling SHJ build side OOMing on a size underestimate
        # at cluster scale (r13 ADVICE item 1).
        # Sized to the plan working set: see CODEGEN_CACHE_ENTRIES.
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # Keep broadcast autodetection on, at 32 MB rather than Spark's
        # 10 MB default (region/nation/kernel dims are far below either).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long and
        # convert in the loader (Spark has no nanos timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
