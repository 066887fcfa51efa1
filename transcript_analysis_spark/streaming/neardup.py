"""Incremental near-duplicate detection over a document stream.

The batch query (`minhash_lsh_candidate_pairs`) builds the LSH band
table from the whole corpus; at 100 TB you never rebuild it. New
documents only need to (1) join their bands against the ACCUMULATED
band store and (2) append their own bands — every near-dup pair is
still discovered exactly once, when its LATER document arrives.

foreachBatch carries the accumulation: the band store is plain
parquet (no driver state, no unbounded state store), the probe join
is a band-key equi-join bounded by O(collisions), and both writes are
replay-idempotent —

- candidate pairs land in a ``batch_id=N`` partition via dynamic
  partition overwrite, so a replayed micro-batch overwrites its own
  output instead of appending duplicates (the same recovery contract
  as `windows.foreach_batch_upsert`);
- band appends are guarded by an anti-join on doc_id, so a replayed
  batch adds no rows.

Equivalence contract (tested): after streaming a corpus in any batch
split, the union of emitted pairs equals the batch LSH query's pair
set on the full corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from transcript_analysis_spark.plans.data_pipeline import minhash_band_keys
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

# Band rows carry their arrival batch as a DATA column (appended, not
# partitioned); rows written before stamping existed read it as null.
BANDS_SCHEMA = "doc_id long, band int, key string, batch_id int"
PAIRS_SCHEMA = "doc_a long, doc_b long, batch_id long"


def foreach_batch_neardup(batch_df: DataFrame, batch_id: int,
                          bands_dir: str, pairs_dir: str) -> None:
    """Process one micro-batch of (doc_id, text) documents: emit new
    near-dup candidate pairs (earlier doc_id first) and grow the band
    store. Safe to replay with the same batch_id."""
    spark = batch_df.sparkSession

    # Pairs are computed from the FULL batch's bands every time — not
    # from the anti-joined remainder. A crash partway through the band
    # append leaves some batch docs in the store; if pairs derived
    # only from the not-yet-stored remainder, the replay would
    # overwrite this batch's partition with a subset and lose pairs.
    # From the full band set the pair SET is reproduced exactly: a
    # pair between two batch docs surfaces via the self-join (and
    # again via history if one of them got appended — `distinct()`
    # collapses it), and `n.doc_id != s.doc_id` keeps a doc from
    # pairing with its own partially-appended bands.
    all_bands = minhash_band_keys(batch_df).localCheckpoint(eager=True)
    full_store = read_store(spark, bands_dir, BANDS_SCHEMA)
    # Probe only bands that had ARRIVED as of this batch: each
    # appended band row is stamped with its arrival batch_id, so a
    # REPLAY of batch N (even long after later batches landed) sees
    # exactly the store state the original run saw and rebuilds its
    # pairs partition byte-identically — late knowledge must flow
    # through downstream retraction channels (streaming/pipeline.py
    # tombstones), never by rewriting an old partition. Rows written
    # before stamping existed read batch_id as null and stay
    # always-visible. An empty store is an empty local relation, so
    # the first batch's probe join plans away.
    store = full_store.filter(F.col("batch_id").isNull()
                              | (F.col("batch_id") <= int(batch_id)))
    pairs = (all_bands.alias("n")
             .join(store.alias("s"),
                   (F.col("n.band") == F.col("s.band"))
                   & (F.col("n.key") == F.col("s.key"))
                   & (F.col("n.doc_id") != F.col("s.doc_id")))
             .select(F.least("n.doc_id", "s.doc_id").alias("doc_a"),
                     F.greatest("n.doc_id", "s.doc_id").alias("doc_b")))
    # ...plus new-vs-new inside this batch
    a, b = all_bands.alias("a"), all_bands.alias("b")
    selfp = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    # dynamic overwrite of THIS batch's partition -> replay-idempotent;
    # size-aware fan-out (pair volume is data-dependent — near-zero on
    # clean batches, huge on duplicate-heavy ones).
    write_batch_partition(pairs.unionByName(selfp).distinct(), batch_id,
                          pairs_dir, size_aware=True)
    # band append is anti-join-guarded, so a replay (or a crash-retry
    # after a partial append) adds only the missing docs' bands. The
    # guard checks the FULL store (not the arrival-time view): a doc
    # redelivered by an at-least-once source in a later batch keeps
    # its first arrival stamp.
    (all_bands.withColumn("batch_id", F.lit(int(batch_id)))
     .join(full_store.select("doc_id").distinct(), "doc_id", "left_anti")
     .write.mode("append").parquet(bands_dir))


def read_pairs(spark, pairs_dir: str, dedup: bool = True) -> DataFrame:
    """The emitted candidate-pair store, read with its declared
    schema (empty before any batch has landed a pair).

    Within one batch partition a pair appears once; a document
    REDELIVERED by an at-least-once source in a later batch re-emits
    its pairs into that batch's partition (deriving pairs from the
    full batch is what makes the crash-retry windows lossless), so
    the default read collapses to the distinct pair set. Pass
    ``dedup=False`` for the raw per-batch rows."""
    df = read_store(spark, pairs_dir, PAIRS_SCHEMA)
    return df.select("doc_a", "doc_b").distinct() if dedup else df


def neardup_stream(docs_stream: DataFrame, bands_dir: str,
                   pairs_dir: str, checkpoint_dir: str):
    """Wire a streaming (doc_id, text) frame into the incremental
    near-dup maintainer. Returns the started StreamingQuery."""
    return (docs_stream.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_neardup(
                df, bid, bands_dir, pairs_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
