"""Structured Streaming operators over the `events` table.

The Spark-native generalization of the reference's incremental batch
constructs (SURVEY §2.9 T1-T5): event-time windows + watermarks
replace the Postgres task queue / status machine; an idempotent sink
(`foreachBatch` upsert) replaces `ON CONFLICT DO NOTHING`
(reference `island_worker.py:114-127`, `run_8values_survey.py:374-389`).

Stream source: the parquet file source (a directory watched for new
files) — at cluster scale the same plans run unchanged against
Kafka/Kinesis sources. Batch-equivalence of every streaming plan here
is asserted in tests/test_streaming.py against the oracle-checked
batch forms in plans/streaming_batch.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

# Raw schema with ts as long nanos — what test fixtures write, and
# what Spark <= 4.0 surfaced for the corpus's TIMESTAMP(NANOS) column
# under the legacy nanosAsLong flag. Spark 4.1+ reads that parquet
# type as TIMESTAMP_NTZ instead, so `events_stream` probes the actual
# file schema rather than assuming this one.
EVENTS_RAW_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def events_stream(spark: SparkSession, sf_dir: str,
                  stream_dir: str | None = None) -> DataFrame:
    """readStream over events.parquet.

    The file source needs a directory; we expose the single driver
    parquet file through a symlinked temp dir (read-only on the
    original). `maxFilesPerTrigger=1` keeps micro-batches realistic.
    """
    if stream_dir is None:
        stream_dir = tempfile.mkdtemp(prefix="events_stream_")
        link = os.path.join(stream_dir, "events.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    # A file stream needs a declared schema, and it must match what the
    # files actually contain: long nanos (fixtures; Spark <= 4.0 corpus
    # reads) vs TIMESTAMP_NTZ (Spark 4.1+ corpus reads). Probe with a
    # one-off batch read of the footer, then normalize ts to a proper
    # event-time timestamp either way.
    probed = spark.read.parquet(stream_dir).schema
    stream = (spark.readStream.schema(probed)
              .option("maxFilesPerTrigger", "1")
              .parquet(stream_dir))
    if isinstance(probed["ts"].dataType, LongType):
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))



def ensure_event_time(events: DataFrame, col: str = "ts") -> DataFrame:
    """Watermarks require TIMESTAMP; parquet nanos surface as
    TIMESTAMP_NTZ on Spark 4.1+ (see sources/tables.py). Normalize the
    event-time column once at every watermark entry point — a no-op
    when the caller already holds a proper timestamp."""
    from pyspark.sql.types import TimestampNTZType
    if isinstance(events.schema[col].dataType, TimestampNTZType):
        return events.withColumn(col, F.col(col).cast("timestamp"))
    return events

def tumbling_hourly(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming form of plans/streaming_batch.tumbling_hourly_event_stats."""
    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"),
             F.approx_count_distinct("user_id").alias("approx_users"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type", "n_events", "sum_value", "approx_users")
    )


def sliding_10min(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming form of plans/streaming_batch.sliding_10min_event_stats."""
    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "n_events", "sum_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Streaming sessionization via `session_window()` — the native
    stateful operator form of
    plans/streaming_batch.session_windows_per_user."""
    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select("user_id",
                F.unix_timestamp("w.start").alias("session_start_sec"),
                F.unix_timestamp("w.end").alias("session_end_sec"),
                "n_events", "sum_value")
    )


def run_stream_to_memory(df: DataFrame, name: str,
                         output_mode: str = "append") -> DataFrame:
    """Execute a streaming plan to completion over the available files
    and return the materialized result as a batch DataFrame.

    `processAllAvailable` drains every micro-batch; Spark then runs a
    final no-data micro-batch when the watermark advances, flushing
    closed windows in append mode.
    """
    spark = df.sparkSession
    q = (df.writeStream.outputMode(output_mode)
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def incremental_pending(candidates: DataFrame, done: DataFrame,
                        keys: list[str]) -> DataFrame:
    """T1 — the reference's core incremental operator: pending work
    derived as candidates ANTI JOIN done
    (`client/async_processing_client.py:12-14,226-248`). Restart-free:
    no positive checkpoint state, exactly the reference's semantics."""
    return candidates.join(done, keys, "left_anti")


def foreach_batch_upsert(batch_df: DataFrame, batch_id: int,
                         target_path: str, keys: list[str]) -> None:
    """Idempotent micro-batch sink: dropDuplicates-on-key then
    dynamic-partition-overwrite on the key columns — the parquet-only
    emulation of Delta MERGE (reference `ON CONFLICT DO UPDATE`,
    `island_worker.py:114-127`). Exactly-once under retries/restarts
    because a replayed batch REWRITES the same key partitions to the
    same values (a bare append would duplicate them — the r2 docstring
    claimed this overwrite but the code appended). For keys too
    high-cardinality to partition by directly, partition by
    `pmod(xxhash64(keys), n)` buckets and merge within the rewritten
    buckets instead."""
    from transcript_analysis_spark.sources.sinks import replace_partitions
    replace_partitions(batch_df.dropDuplicates(keys), target_path,
                       partition_by=keys)


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

RUNNING_STATS_SCHEMA = "user_id LONG, events_seen LONG, total_value DOUBLE, batch_id LONG"
RUNNING_STATS_STATE_SCHEMA = "events_seen LONG, total_value DOUBLE"


def user_running_stats(events: "DataFrame", watermark: str = "10 minutes") -> "DataFrame":
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running (count, sum) maintained across micro-batches —
    the Spark-native form of the reference's per-worker incremental
    state (task attempt counters, `island_worker.py:72-99`), with
    state lifetime governed by the watermark instead of a Postgres
    status machine.

    Emits one row per user per micro-batch in which the user appeared,
    carrying the cumulative totals so far.
    """
    def update(key, pdfs, state):
        (user_id,) = key
        seen, total = state.get if state.exists else (0, 0.0)
        n_new, v_new = 0, 0.0
        for pdf in pdfs:
            n_new += len(pdf)
            v_new += float(pdf["value"].sum())
        seen += n_new
        total += v_new
        state.update((seen, total))
        yield _running_stats_emit(user_id, seen, total, n_new)

    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=RUNNING_STATS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def transform_with_state_available() -> bool:
    """Spark 4's transformWithStateInPandas runs its Python state
    server over protobuf; without `google.protobuf` the stream crashes
    at runtime with an opaque worker-init failure, so callers (and the
    test suite) probe this up front."""
    import importlib.util
    try:
        # find_spec raises (not returns None) when the parent
        # `google` namespace package itself is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def user_running_stats_tws(events: "DataFrame",
                           watermark: str = "10 minutes") -> "DataFrame":
    """`user_running_stats` on the supported successor API:
    `transformWithStateInPandas` (Spark 4's StatefulProcessor — typed
    state handles, timers, TTL) instead of the legacy
    `applyInPandasWithState`. Identical semantics and output schema —
    equivalence on the same micro-batch splits is asserted in
    tests/test_stateful_streaming.py, so the engine is not pinned to
    the legacy API.
    """
    if not transform_with_state_available():
        raise ModuleNotFoundError(
            "transformWithStateInPandas needs the `protobuf` package "
            "(google.protobuf) for its Python state-server protocol; "
            "install it or use user_running_stats (the "
            "applyInPandasWithState form, no extra dependency).")
    return (
        ensure_event_time(events).withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStatsProcessor(),
            outputStructType=RUNNING_STATS_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


def _running_stats_emit(user_id, seen, total, n_new):
    """Shared per-key emission of the two running-stats operators —
    one definition so the legacy and TWS forms cannot drift."""
    import pandas as pd
    return pd.DataFrame({
        "user_id": pd.Series([user_id], dtype="int64"),
        "events_seen": pd.Series([seen], dtype="int64"),
        "total_value": pd.Series([round(total, 2)], dtype="float64"),
        "batch_id": pd.Series([n_new], dtype="int64"),
    })


try:
    from pyspark.sql.streaming import StatefulProcessor as _StatefulProcessor
except ImportError:   # pragma: no cover - always present on pyspark>=4
    _StatefulProcessor = object


class RunningStatsProcessor(_StatefulProcessor):
    """StatefulProcessor twin of `user_running_stats`'s update fn.
    Module-level so its logic is unit-testable (with a fake state
    handle) even where the protobuf state-server runtime is absent."""

    def init(self, handle):
        self._state = handle.getValueState(
            "running", RUNNING_STATS_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (user_id,) = key
        if self._state.exists():
            seen, total = self._state.get()
        else:
            seen, total = 0, 0.0
        n_new, v_new = 0, 0.0
        for pdf in rows:
            n_new += len(pdf)
            v_new += float(pdf["value"].sum())
        seen += n_new
        total += v_new
        self._state.update((seen, total))
        yield _running_stats_emit(user_id, seen, total, n_new)

    def close(self):
        pass


def content_fingerprint(text_col: str = "text"):
    """Portable content fingerprint (the polynomial char hash shared
    with the dedup queries — never Spark's hash(), which other engines
    cannot reproduce)."""
    from transcript_analysis_spark.plans.data_pipeline import spark_char_hash
    return F.expr(spark_char_hash(text_col))


def foreach_batch_dedup_append(batch_df: DataFrame, batch_id: int,
                               target_path: str,
                               text_col: str = "text") -> None:
    """Streaming incremental dedup sink: fingerprint each document in
    the micro-batch, drop within-batch duplicates, anti-join against
    the target, append only novel docs.

    This is EXACT dedup running continuously — the streaming form of
    `exact_dedup_groups` (the state is the target table itself, so a
    restart needs no checkpoint replay to stay correct: re-delivered
    documents anti-join away). Exactness: the anti-join key is
    (fingerprint, full text) — the fingerprint alone would silently
    DROP a distinct document on a hash collision (~n²/2e9 expected at
    the 1e9+7 modulus); including the text makes the key injective
    while the hash half keeps the shuffle key effectively uniform. At
    scale the target is partitioned by a fingerprint prefix so the
    anti-join prunes to matching partitions.
    """
    spark = batch_df.sparkSession
    fp = (batch_df.withColumn("fingerprint", content_fingerprint(text_col))
          .dropDuplicates([text_col]))
    # Existence is checked explicitly (not except-Exception around the
    # read): a CORRUPT target must fail loudly here — swallowing it
    # would silently re-append every delivered document.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        seen = spark.read.parquet(target_path).select("fingerprint",
                                                      text_col)
        fp = fp.join(seen, ["fingerprint", text_col], "left_anti")
    fp.write.mode("append").parquet(target_path)


def foreach_batch_hourly_rollup(batch_df: DataFrame, batch_id: int,
                                target_path: str) -> None:
    """Continuous-aggregate maintenance (the hypertable materialized
    rollup, T3): each micro-batch carries the UPDATED cumulative
    totals for the hours it touched (update-mode streaming aggregation
    keeps per-window state across batches); dynamic partition
    overwrite replaces exactly those hour partitions in the serving
    table — untouched hours keep their files. Late data simply
    re-emits its window's row and the partition is rewritten.

    Expects batch rows (hour_sec, event_type, n_events, sum_value).
    Partition granularity MUST equal the aggregation key
    (hour_sec, event_type): an update-mode batch may emit only SOME
    event types for an hour, and replacing whole hour_sec partitions
    would silently delete the hour's other types' rows."""
    from transcript_analysis_spark.sources.sinks import replace_partitions
    replace_partitions(batch_df, target_path,
                       partition_by=["hour_sec", "event_type"])


def hourly_rollup_stream(events: DataFrame) -> DataFrame:
    """The update-mode aggregation feeding the continuous rollup: no
    watermark, so every hour's state stays live and late rows update
    their window (the serving table is always cumulative-correct)."""
    return (events.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_sec"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value")))


def purchase_click_interval_join(events: DataFrame,
                                 watermark: str = "1 hour",
                                 max_gap_min: int = 30) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding `max_gap_min` minutes — attribution
    over two live streams. Both sides carry watermarks plus a bounded
    time condition, so Spark can size the join state and expire rows;
    an unbounded stream-stream join would grow state forever.

    Batch-equivalence is tested: draining the streams must produce
    exactly the batch inner-join under the same interval predicate."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
                 .withWatermark("purchase_ts", watermark))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {max_gap_min} MINUTES")))
    return (purchases.join(clicks, cond)
            .select("p_user", "purchase_id", "click_id",
                    "purchase_ts", "click_ts", "purchase_value"))


def deduped_event_stream(events: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Native streaming dedup: dropDuplicatesWithinWatermark on the
    event id — duplicates arriving within the watermark horizon are
    dropped by Spark's own dedup state store (state expires with the
    watermark, so memory is bounded). This is the built-in complement
    to `foreach_batch_dedup_append`: use this for bounded-lateness
    dup-delivery (at-least-once sources), the foreachBatch form when
    dup detection must span the full table history."""
    return (ensure_event_time(events).withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def foreach_batch_enrich(batch_df: DataFrame, batch_id: int,
                         dim_dir: str, out_dir: str,
                         dim_key: str = "user_id") -> None:
    """Stream-dimension enrichment with LIVE dimension refresh: each
    micro-batch re-reads the dimension table from storage, so a dim
    update that lands between batches is visible to the very next one
    — the slowly-changing-lookup pattern a static broadcast join
    cannot express (Spark pins a static dim at stream start). The
    dimension is broadcast per batch (small by contract: it is a
    lookup table); output lands in this batch's partition via dynamic
    partition overwrite, replay-safe like every foreach_batch sink in
    this module."""
    spark = batch_df.sparkSession
    dim = spark.read.parquet(dim_dir)
    from transcript_analysis_spark.streaming.store_io import (
        write_batch_partition)
    # Enriched rows carry the full event PLUS the joined dim columns;
    # the size-aware write measures that width from the shuffle bytes
    # instead of estimating it.
    write_batch_partition(
        batch_df.join(F.broadcast(dim), dim_key, "left"),
        batch_id, out_dir, size_aware=True)


def run_enriched_stream(stream_df: DataFrame, dim_dir: str,
                        out_dir: str, checkpoint_dir: str,
                        dim_key: str = "user_id"):
    """AvailableNow foreachBatch driver for dim enrichment."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_enrich(
                df, bid, dim_dir, out_dir, dim_key))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def purchase_click_outer_join(events: DataFrame,
                              watermark: str = "1 hour",
                              max_gap_min: int = 30) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits,
    matched clicks attached, NULL-click rows for purchases with no
    preceding click — the attribution form that must also count the
    un-attributed. Outer results can only emit once the watermark
    proves no matching click can still arrive, so this exercises the
    state-EXPIRY semantics the inner join never does (an inner match
    emits eagerly; an outer non-match emits exactly at expiry).
    Same bounded time condition => bounded state."""
    events = ensure_event_time(events)
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
                 .withWatermark("purchase_ts", watermark))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {max_gap_min} MINUTES")))
    return (purchases.join(clicks, cond, "left_outer")
            .select("p_user", "purchase_id", "click_id",
                    "purchase_ts", "click_ts", "purchase_value"))
