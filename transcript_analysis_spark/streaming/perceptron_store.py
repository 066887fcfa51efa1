"""Online model maintenance over a document stream — the SIXTH
persisted-store streaming operator (after LSH bands, bloom words, CMS
cells, HLL registers, DSIR weights): mini-batch perceptron weights
kept in a VERSIONED table and advanced transactionally per
micro-batch.

Semantics: each micro-batch applies one batch-perceptron step against
the CURRENT committed weights — update = sum(y*x) over the batch's
misclassified rows (margin <= 0), exactly the arithmetic of
`plans/curation.perceptron_classifier_train`, sharing its
`pct_features_frame` so streamed and batch training see identical
integers. Mini-batch updates are order-dependent (standard for online
learning): given the same batch sequence the final weights replay
exactly in pure Python (tested), and a single batch holding the whole
corpus reproduces the batch trainer's epoch-1 weights bit-for-bit
(tested).

Exactly-once WITHOUT idempotent math: a perceptron update is not
idempotent (replaying a batch would double it), so the committed
state carries a PER-STREAM map of last-applied batch ids (a JSON
column inside the same versioned row — applied atomically with the
weights) and `foreach_batch_perceptron` skips any (stream_id,
batch_id) at-or-below the recorded watermark. Stream identity
matters: Structured Streaming numbers micro-batches per checkpoint,
so two checkpoints both emit batch 0 — a single global id would
silently drop one of them. Callers pass the checkpoint's identity as
`stream_id` (default "default" for the single-writer case).

Lost updates are impossible even with concurrent writers: the commit
carries the base version it read (``commit_version(base_version=...)``,
sources/versioned.py) and retries with jittered backoff on
``StaleBaseError``/lock collisions by re-reading and re-deriving — the
optimistic-concurrency gate this round added, exercised here as a
consumer (the forced mid-flight interleave is tested). At 100 TB each
step is one broadcast of the 4-number weight row + one aggregate over
the batch — the streaming form of the trainer's epoch shape.
"""

from __future__ import annotations

import json
import random
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.plans.curation import pct_features_frame
from transcript_analysis_spark.sources import versioned

N_FEATURES = 4
MAX_COMMIT_RETRIES = 5

_SCHEMA = ("w0 long, w1 long, w2 long, w3 long, n_seen long, "
           "applied_json string")


def init_weight_store(spark: SparkSession, root: str) -> int:
    """Commit version 1: zero weights, no batches applied."""
    row = _weights_row(spark, (0, 0, 0, 0, 0, "{}"))
    return versioned.commit_version(row, root, base_version=None)


def _weights_row(spark: SparkSession, row: tuple) -> DataFrame:
    """One weights row as a one-partition frame. `createDataFrame`
    spreads a local list over the default parallelism, and the commit
    would then land an empty parquet file beside the row."""
    return spark.createDataFrame([row], _SCHEMA).coalesce(1)


def read_weights(spark: SparkSession, root: str):
    """Latest committed weights row (a pyspark Row; `applied_json`
    maps stream_id -> last applied batch_id)."""
    return versioned.read_snapshot(spark, root,
                                   schema=_SCHEMA).collect()[0]


def _step(feats: DataFrame, w) -> tuple[list[int], int, int]:
    """One mini-batch perceptron step against weights row `w`:
    (updates, n_misclassified, n_rows). Aggregates are a single Spark
    job; the 4 totals are the only driver-side data."""
    margin = F.col("y") * sum(
        (F.lit(int(w[f"w{k}"])) * F.col(f"x{k}") for k in range(1, N_FEATURES)),
        F.lit(int(w["w0"])) * F.col("x0"))
    mis = margin <= 0
    agg = feats.agg(
        *[F.sum(F.when(mis, F.col("y") * F.col(f"x{k}")).otherwise(0))
          .cast("long").alias(f"u{k}") for k in range(N_FEATURES)],
        F.sum(F.when(mis, 1).otherwise(0)).cast("long").alias("err"),
        F.count(F.lit(1)).cast("long").alias("n")).collect()[0]
    upd = [int(agg[f"u{k}"] or 0) for k in range(N_FEATURES)]
    return upd, int(agg["err"] or 0), int(agg["n"] or 0)


def foreach_batch_perceptron(batch_df: DataFrame, batch_id: int,
                             root: str,
                             stream_id: str = "default") -> bool:
    """Apply one micro-batch to the versioned weight store. Returns
    True if the batch was applied, False if this (stream_id,
    batch_id) is already recorded in the committed state — the
    exactly-once contract for non-idempotent updates."""
    spark = batch_df.sparkSession
    feats = pct_features_frame(batch_df).localCheckpoint(eager=False)
    last_err: Exception | None = None
    for attempt in range(MAX_COMMIT_RETRIES + 1):
        base = versioned.latest_version(spark, root)
        if base is None:
            raise FileNotFoundError(
                f"perceptron store not initialized: {root} "
                f"(call init_weight_store first)")
        w = versioned.read_snapshot(spark, root, base,
                                    schema=_SCHEMA).collect()[0]
        applied = json.loads(w["applied_json"] or "{}")
        if int(applied.get(stream_id, -1)) >= batch_id:
            return False                     # replayed batch: no-op
        upd, _err, n = _step(feats, w)
        applied[stream_id] = batch_id
        new_row = _weights_row(
            spark,
            tuple(int(w[f"w{k}"]) + upd[k] for k in range(N_FEATURES))
            + (int(w["n_seen"]) + n, json.dumps(applied, sort_keys=True)))
        try:
            versioned.commit_version(new_row, root, base_version=base)
            return True
        except versioned.ConcurrentWriterError as exc:
            last_err = exc                   # re-read, re-derive, retry
            if attempt < MAX_COMMIT_RETRIES:
                time.sleep(0.05 * (2 ** attempt) * (0.5 + random.random()))
    raise last_err  # type: ignore[misc]


def run_perceptron_stream(stream_docs: DataFrame, root: str,
                          checkpoint_dir: str,
                          stream_id: str | None = None):
    """Drive the store from a streaming (doc_id, lang, text, n_chars)
    source with Trigger.AvailableNow (drain-what-exists; rerunnable).
    The checkpoint location doubles as the stream identity for the
    store's exactly-once bookkeeping unless overridden."""
    sid = stream_id if stream_id is not None else checkpoint_dir
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid:
                          foreach_batch_perceptron(df, bid, root,
                                                   stream_id=sid))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
