"""Incremental bottom-k holdout sample store — the NINTH
persisted-store streaming operator.

The batch query (`uniform_hash_sample`, plans/scale_ops.py:646) draws
a fixed-size uniform, reproducible sample as the k documents with the
smallest content hash (bottom-k sketch semantics). At 100 TB new
shards arrive continuously and the corpus is never rescanned: each
micro-batch lands ONLY its own bottom-k rows (<= k rows regardless of
batch size; TakeOrderedAndProject keeps it one per-partition heap +
one k-row merge) in a ``batch_id=N`` partition, and the queryable
sample is the bottom-k over the union of the per-batch deltas.

Why the merge is exact: any document in the corpus-wide bottom-k has
fewer than k documents hashing below it globally, hence fewer than k
in its own batch — so it is in its batch's bottom-k delta. The union
of deltas therefore contains the global bottom-k, and re-taking
bottom-k over it recovers the batch query's answer EXACTLY (the
(hv, doc_id) order is total because doc_id is unique). This is the
classic mergeability of order statistics — same family as the CMS
(sum) and HLL (max) stores, with min-k as the merge operator.

Replay contract (same recovery shape as the other eight stores): a
replayed micro-batch dynamic-partition-overwrites its own batch_id
partition; the delta is a pure function of the batch, so retries
never double-count.

Reference parity: the reference samples for spot-checks with ORDER BY
random() LIMIT k (non-reproducible, full-sort); this store gives the
same product deterministically and incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.plans.data_pipeline import spark_char_hash
from transcript_analysis_spark.plans.scale_ops import SAMPLE_K
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

SAMPLE_COLS = ("doc_id", "lang", "n_chars", "hv")
SAMPLE_SCHEMA = ("doc_id long, lang string, n_chars long, hv long, "
                 "batch_id long")


def batch_sample(docs: DataFrame, k: int = SAMPLE_K) -> DataFrame:
    """Bottom-k by content hash for one (doc_id, text, lang, n_chars)
    frame — identical order key to `uniform_hash_sample` so the store
    and the registered query can never drift."""
    return (docs.select(
        "doc_id", "lang", "n_chars",
        F.expr(spark_char_hash("text")).alias("hv"))
        .orderBy("hv", "doc_id").limit(k))


def foreach_batch_sample(batch_docs: DataFrame, batch_id: int,
                         sample_dir: str, k: int = SAMPLE_K) -> None:
    """Land one micro-batch's bottom-k delta in its own partition.
    Safe to replay with the same batch_id."""
    # Delta bounded at <= k rows regardless of batch size —
    # coalesce(1) is the right size policy.
    write_batch_partition(batch_sample(batch_docs, k), batch_id,
                          sample_dir, coalesce=1)


def read_sample(spark: SparkSession, sample_dir: str,
                k: int = SAMPLE_K) -> DataFrame:
    """The current holdout sample: bottom-k over all landed deltas.
    O(#batches x k) rows in, k out."""
    return (read_store(spark, sample_dir, SAMPLE_SCHEMA)
            .select(*SAMPLE_COLS)
            .orderBy("hv", "doc_id").limit(k))


def run_sample_stream(stream_docs: DataFrame, sample_dir: str,
                      checkpoint_dir: str, k: int = SAMPLE_K):
    """AvailableNow foreachBatch driver for sample maintenance."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_sample(
                df, bid, sample_dir, k))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
