"""Incremental count-min sketch maintenance over a document stream.

The batch query (`cms_heavy_hitters`, plans/sketches.py) folds the
whole corpus into a 4x4096 counter grid in one pass. At 100 TB new
shards arrive continuously and the corpus is never rescanned: each
micro-batch folds ONLY its own documents into sketch-cell deltas
(<= 16,384 rows regardless of batch size) and lands them in a
``batch_id=N`` partition. The queryable sketch is the column-wise SUM
over all batch partitions — CMS cells are counters, so the merge is
exactly addition, the property that makes a CMS distributable in the
first place.

Replay contract (same recovery shape as streaming/neardup.py and
streaming/decontam.py): a replayed micro-batch dynamic-partition-
overwrites its own ``batch_id`` partition, so retries after a crash
never double-count.

Equivalence contract (tested in tests/test_sketch_store.py): the
merged streamed sketch equals the single-pass batch sketch cell for
cell, for ANY split of the corpus into micro-batches — and therefore
every estimate drawn from it is identical too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.plans.sketches import (cms_cells,
                                                      cms_estimate,
                                                      tokens_with_hash)
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

CMS_SCHEMA = "j int, bucket long, cnt long, batch_id long"


def foreach_batch_sketch(batch_df: DataFrame, batch_id: int,
                         cms_dir: str) -> None:
    """Fold one micro-batch of (doc_id, text) documents into its
    sketch-delta partition. Safe to replay with the same batch_id.
    The delta is PROVABLY bounded (<= 16k CMS cells regardless of
    batch size), so coalesce(1) is the right size policy."""
    write_batch_partition(cms_cells(tokens_with_hash(batch_df)),
                          batch_id, cms_dir, coalesce=1)


def read_sketch(spark: SparkSession, cms_dir: str) -> DataFrame:
    """The current sketch: cell-wise sum over all batch deltas.
    O(#batches x 16k) rows in, <= 16k out; compact with
    sources/sinks.py:compact_parquet when the batch count grows."""
    return (read_store(spark, cms_dir, CMS_SCHEMA)
            .groupBy("j", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def estimate_from_store(candidates: DataFrame,
                        sketch: DataFrame) -> DataFrame:
    """CMS estimates for a (w, h) candidate frame against the merged
    store — identical math to the batch query's estimate phase."""
    return cms_estimate(candidates, sketch)


def run_sketch_stream(stream_docs: DataFrame, cms_dir: str,
                      checkpoint_dir: str):
    """AvailableNow foreachBatch driver for sketch maintenance."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_sketch(
                df, bid, cms_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


# --- incremental HyperLogLog registers -----------------------------------
# The CMS above merges by SUM (counters); HLL merges by register-wise
# MAX — the other half of the mergeable-sketch story. Per micro-batch
# the delta is <= groups x 1024 rows regardless of batch size; the
# live registers are the max over all batch partitions, so replays
# (idempotent max) AND reorderings are harmless by algebra, with the
# batch_id partition overwrite as the belt to that suspenders.

def foreach_batch_hll(batch_df: DataFrame, batch_id: int,
                      hll_dir: str, group_col: str = "event_type",
                      id_col: str = "user_id") -> None:
    """Fold one micro-batch into its HLL register-delta partition
    (delta bounded by #groups x #registers — coalesce(1) policy)."""
    from transcript_analysis_spark.plans.sketches import hll_registers
    write_batch_partition(hll_registers(batch_df, group_col, id_col),
                          batch_id, hll_dir, coalesce=1)


def read_hll_registers(spark: SparkSession, hll_dir: str,
                       group_col: str = "event_type") -> DataFrame:
    """Live registers: register-wise max over all batch deltas."""
    return (spark.read.parquet(hll_dir)
            .groupBy(group_col, "j").agg(F.max("m").alias("m")))


def estimate_distinct_from_store(spark: SparkSession, hll_dir: str,
                                 group_col: str = "event_type") -> DataFrame:
    """Per-group cardinality estimates from the persisted registers —
    identical math to the batch query's estimate phase."""
    from transcript_analysis_spark.plans.sketches import hll_estimate
    return hll_estimate(read_hll_registers(spark, hll_dir, group_col),
                        group_col)


def run_hll_stream(stream_df: DataFrame, hll_dir: str,
                   checkpoint_dir: str):
    """AvailableNow foreachBatch driver for HLL maintenance."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_hll(
                df, bid, hll_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
