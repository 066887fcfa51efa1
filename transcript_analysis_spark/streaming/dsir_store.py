"""Incremental DSIR scoring over a document stream.

The batch query (`dsir_importance_weights`, plans/selection.py) fits
the target-vs-raw weight table and scores the whole raw corpus in one
plan. At 100 TB the weight table is fit ONCE on a reference corpus,
persisted (vocabulary-sized parquet), and every arriving shard is
scored against it — the reference corpus is never rescanned per
shard, and scoring is one broadcast join + an integer aggregate.

This is the fifth persisted-store streaming operator, completing the
family: LSH bands (neardup.py), bloom words (decontam.py), CMS cells
+ HLL registers (sketch_store.py), now DSIR weights. The store
algebra here is "frozen model": unlike the mergeable sketches, the
weight table is immutable between refits — which is exactly the
production contract (importance weights must stay FIXED across a
selection campaign or the acceptance threshold drifts mid-corpus).

Replay contract: per-doc scores land in a ``batch_id=N`` partition
via dynamic partition overwrite — a replayed micro-batch overwrites
its own output, never duplicates it. The written scores are pinned
and returned, so a caller gating on them (the composed pipeline)
reuses them instead of scoring the batch a second time.

Equivalence contract (tested): when the stream replays the same raw
corpus the store was fit on, streamed (n_tokens, importance_e9,
avg_logratio, target_like) per doc EQUAL the batch query's columns
exactly — same int64 quantized weights on both paths. Out-of-
vocabulary words in later shards contribute 0 (documented inner-join
semantics; refit the store when OOV mass grows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from transcript_analysis_spark.plans.selection import (
    doc_word_counts,
    dsir_score,
    dsir_weight_table,
)
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

WEIGHT_SCHEMA = "w string, w_e9 long"
SCORE_SCHEMA = ("doc_id long, n_tokens long, importance_e9 long, "
                "avg_logratio double, target_like boolean, batch_id long")


def build_weight_store(corpus_docs: DataFrame, weights_dir: str) -> int:
    """Fit the DSIR weight table on a (doc_id, source, text) reference
    corpus (target slice = DSIR_TARGET source) and persist it.
    Vocabulary-sized output; one corpus-sized aggregate, run once.
    Returns the vocabulary size."""
    wt = dsir_weight_table(doc_word_counts(corpus_docs))
    wt.write.mode("overwrite").parquet(weights_dir)
    return wt.sparkSession.read.parquet(weights_dir).count()


def score_against_store(docs: DataFrame, weight_store: DataFrame) -> DataFrame:
    """Score a (doc_id, source, text) frame against a persisted weight
    table: broadcast join + exact integer importance aggregate."""
    dc = doc_word_counts(docs)
    return dsir_score(dc, weight_store)


def foreach_batch_dsir(batch_df: DataFrame, batch_id: int,
                       weights_dir: str, scores_dir: str) -> DataFrame:
    """Score one micro-batch of raw documents against the persisted
    weights; write scores to this batch's partition and return them,
    pinned. Safe to replay with the same batch_id."""
    spark = batch_df.sparkSession
    store = read_store(spark, weights_dir, WEIGHT_SCHEMA)
    scores = score_against_store(batch_df, store).localCheckpoint(
        eager=True)
    # One score row per doc — unbounded with batch size, so the
    # write fan-out comes from the shared size policy.
    write_batch_partition(scores, batch_id, scores_dir, size_aware=True)
    return scores


def run_dsir_stream(stream_docs: DataFrame, weights_dir: str,
                    scores_dir: str, checkpoint_dir: str):
    """AvailableNow foreachBatch driver for the scoring stream."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_dsir(
                df, bid, weights_dir, scores_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_scores(spark, scores_dir: str) -> DataFrame:
    """All scored docs across batches. A doc re-delivered in a LATER
    batch appears once per batch (dedupe by latest batch_id if the
    source can re-deliver across batches; within-batch replay is
    already idempotent)."""
    return read_store(spark, scores_dir, SCORE_SCHEMA)
