"""Incremental decontamination over a document stream.

The batch query (`bloom_prefilter_contamination`, plans/scale_ops.py)
builds the train-shingle bloom filter and probes the whole eval split
in one plan. At 100 TB the filter is built ONCE, persisted, and every
arriving shard probes it — the train corpus is never rescanned per
shard, and the probe itself is per-row JVM bit math against a 256 KB
broadcast map.

What streaming emits per document is the bloom verdict:

- ``n_candidates = 0`` -> the document is PROVABLY clean (a bloom
  filter has no false negatives), releasable immediately without ever
  touching the train set;
- ``n_candidates > 0`` -> the listed shingle candidates go to the
  exact verify join (the batch query's second phase) — a rounding
  error of the stream at the filter's design load.

Replay contract: per-doc verdicts land in a ``batch_id=N`` partition
via dynamic partition overwrite (same recovery shape as
streaming/neardup.py) — a replayed micro-batch overwrites its own
output, never duplicates it. The written verdicts are pinned and
returned, so a caller gating on them (the composed pipeline) reuses
them instead of probing the filter a second time.

Equivalence contract (tested): streamed ``(n_shingles,
n_candidates)`` per doc equal the batch query's columns exactly — the
same int64 hash/bit math on both paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from transcript_analysis_spark.plans.data_pipeline import (
    shingles_of,
    spark_char_hash,
)
from transcript_analysis_spark.plans.scale_ops import (
    bloom_hit_column,
    bloom_words,
)
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

BLOOM_SCHEMA = "w long, bits long"
VERDICT_SCHEMA = ("doc_id long, n_shingles long, n_candidates long, "
                  "batch_id long")


def build_bloom_store(train_docs: DataFrame, bloom_dir: str) -> int:
    """Distill a (doc_id, text) training frame into the persisted
    bloom word table (<= 65,536 rows, ~256 KB of bits). Returns the
    number of set words. One corpus-sized aggregate, run once."""
    bw = bloom_words(shingles_of(train_docs).select("shingle").distinct())
    bw.write.mode("overwrite").parquet(bloom_dir)
    return bw.sparkSession.read.parquet(bloom_dir).count()


def probe_bloom(docs: DataFrame, bloom_store: DataFrame) -> DataFrame:
    """Per-doc bloom verdicts for a (doc_id, text) frame: n_shingles,
    n_candidates (bloom-positive shingles). Zero shuffle beyond the
    doc_id rollup: the filter is one broadcast row."""
    bitmap = bloom_store.agg(F.map_from_entries(
        F.collect_list(F.struct("w", "bits"))).alias("bm"))
    probe = (shingles_of(docs)
             .withColumn("h", F.expr(spark_char_hash("shingle")))
             .join(F.broadcast(bitmap)))
    return (probe.select("doc_id", bloom_hit_column("h", "bm").alias("hit"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                 F.sum(F.when(F.col("hit"), 1).otherwise(0))
                  .cast("long").alias("n_candidates")))


def foreach_batch_decontam(batch_df: DataFrame, batch_id: int,
                           bloom_dir: str, out_dir: str) -> DataFrame:
    """Probe one micro-batch of (doc_id, text) documents against the
    persisted filter; write verdicts to this batch's partition and
    return them, pinned (doc_id, n_shingles, n_candidates). Safe to
    replay with the same batch_id."""
    spark = batch_df.sparkSession
    store = read_store(spark, bloom_dir, BLOOM_SCHEMA)
    verdicts = probe_bloom(batch_df, store).localCheckpoint(eager=True)
    # One verdict row per doc — unbounded with batch size, so the
    # write fan-out comes from the shared size policy.
    write_batch_partition(verdicts, batch_id, out_dir, size_aware=True)
    return verdicts


def run_decontam_stream(stream_docs: DataFrame, bloom_dir: str,
                        out_dir: str, checkpoint_dir: str):
    """AvailableNow foreachBatch driver for the verdict stream."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_decontam(
                df, bid, bloom_dir, out_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
