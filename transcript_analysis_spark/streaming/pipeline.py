"""The ten persisted-store streaming operators composed into ONE
end-to-end incremental corpus pipeline (r6 verdict item 5; islands
store added r8 per the r7 verdict).

Each store is individually proven (streamed == batch, replay no-op);
the reference's production loop (SURVEY §3.1-3.3) is the COMPOSITION,
and cross-store interaction — the perceptron's versioned commits
interleaving with the dedup/verdict partition overwrites inside one
micro-batch — is what this module makes a first-class, tested unit.

Per micro-batch of (doc_id, text, lang, source, n_chars) documents:

    0. flagship islands      (islands_store.py) — the reference's own
       incremental workload: smooth → gaps-and-islands → word/time
       ranges for JUST the arriving docs, landed as batch_id
       partitions; union across batches == islands_flagship. Runs on
       arriving (pre-gate) docs because the reference islands every
       (vid, model) pair before curation.
    1. incremental near-dup  (LSH band store, neardup.py)
       gate: drop any doc that shares a band bucket with a SMALLER
       doc_id (keep-first). With id-ordered arrival the verdict is
       final at arrival: the pair (a, b), a < b, is discovered no
       later than b's batch. Under OUT-OF-ORDER arrival a doc can be
       kept first and only later revealed as a pair's greater member —
       step 1b repairs that.
    1b. retraction tombstones (batch_id-partitioned, idempotent)
       every batch, previously-KEPT docs that the now-complete pair
       store names as losers get a tombstone row; the pipeline's
       final product is `read_kept_final` = kept minus tombstones,
       which equals the batch composite under ANY arrival order (the
       raw kept partitions remain the arrival-time verdicts).
    2. decontamination       (bloom store, decontam.py)
       gate: drop when >= half the doc's shingles are bloom-positive.
    3. DSIR selection        (frozen weight store, dsir_store.py)
       gate: keep `target_like` docs (positive avg log-ratio).
    4. kept-set              batch_id-partitioned parquet (idempotent)
    5. perceptron update     (versioned weight store, exactly-once via
       the applied-batch watermark; non-idempotent math made replay-
       safe by the optimistic-commit protocol)
    6. CMS + HLL profile     (mergeable sketch deltas, sketch_store.py)
    7. IVF assignment        (frozen centroids + idempotent partition
       appends, ivf_store.py)
    8. PCA moment deltas     (exact integer count/colsum/Gram sums,
       pca_store.py; the trajectory derived from the merged store
       equals the batch power-iteration query row for row)
    9. holdout sample        (bottom-k-by-content-hash deltas,
       sample_store.py; min-k over deltas equals the batch
       `uniform_hash_sample` over the kept union)

Stages 5-9 run on the KEPT subset — curate first, then train/profile/
index, the order a corpus team actually runs.

Fixed cost per batch: at enginebench scale a batch's time is per-job
and per-plan overhead, not data, so each stage runs in the fewest
Spark actions, and the stages run as a fixed dependency graph, so a
batch costs its critical path rather than the sum of its stages. The
gate chain — near-dup pairs write, pairs read, near-dup gate pin,
decontam, DSIR, kept pin — runs in order on the calling thread. Every
other stage runs on a thread pool and starts as soon as its input is
pinned: islands from the pinned batch, the tombstone write from the
pairs read, and the kept write, sample, perceptron, CMS, HLL and the
vector pin (then IVF and PCA) from the kept pin. Two ordering rules go
beyond data flow. The tombstone write finishes before the kept write
starts, because it reads the kept store and a replay's dynamic
overwrite would delete that partition under the reader. And
`publish_snapshot` runs only after every stage has landed. If any
stage raises, the batch waits for every started stage to finish, then
re-raises the first error: no write is still running when it returns
and nothing is published, so the redelivered batch replays cleanly.
Pool calls run in the caller's job group and local properties
(`pyspark.util.inheritable_thread_target`).

Within a stage: a size-aware store write is one action, its REBALANCE
hint letting adaptive execution size the files from the measured
shuffle bytes (store_io.py). Each gate's verdicts are computed once:
the near-dup-gated frame is pinned, and the decontam and DSIR stages
pin, write and return their verdicts, which the pipeline gates on by
semi-join. The returned row counts are observed metrics of
checkpoints the batch runs anyway, and every store is read with its
declared schema (no footer-inference job).

Equivalence contract (tests/test_streaming_pipeline.py): after N
micro-batches `read_kept_final` (kept minus tombstones) EQUALS
`batch_composite_kept` — the same three gates applied to the union of
all batches in one batch plan — under id-ordered AND out-of-order
arrival (id-ordered runs simply produce zero tombstones), and a
mid-stream replay of an already-applied batch changes NOTHING in any
store, tombstones included.

Retraction scope: the tombstone channel finalizes the KEPT-SET
product. The downstream profile/training stores are arrival-time by
design — the perceptron cannot unlearn a retracted doc (online
learning is sequence-defined; same as the reference's incremental
loop), and CMS/HLL remain monotone upper-bound profiles (the CMS
guarantee is one-sided anyway). A consumer needing exact profiles of
the final set recomputes them over `read_kept_final` — one batch
pass of the same shape test_profile_stores_equal_batch_over_kept_union
already demonstrates.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from transcript_analysis_spark.streaming.decontam import (
    build_bloom_store, foreach_batch_decontam, probe_bloom)
from transcript_analysis_spark.streaming.dsir_store import (
    build_weight_store, foreach_batch_dsir, score_against_store)
from transcript_analysis_spark.streaming.ivf_store import (
    EMBEDDING_SCHEMA, build_centroid_store, foreach_batch_ivf)
from transcript_analysis_spark.streaming.neardup import (
    foreach_batch_neardup, read_pairs)
from transcript_analysis_spark.streaming.pca_store import foreach_batch_pca
from transcript_analysis_spark.streaming.sample_store import (
    foreach_batch_sample)
from transcript_analysis_spark.streaming.perceptron_store import (
    foreach_batch_perceptron, init_weight_store)
from transcript_analysis_spark.streaming.islands_store import (
    compact_islands_store, foreach_batch_islands)
from transcript_analysis_spark.streaming.sketch_store import (
    foreach_batch_hll, foreach_batch_sketch)
from transcript_analysis_spark.streaming.store_io import (
    DEFAULT_ROW_BYTES, observed_row_bytes, partitions_for, read_store,
    store_has_data, write_batch_partition)

DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")
KEPT_SCHEMA = "doc_id long, batch_id long"
TOMBSTONE_SCHEMA = "doc_id long, batch_id long"


@dataclass(frozen=True)
class PipelineStores:
    """Directory layout of the composed pipeline's ten stores."""
    bands_dir: str          # near-dup LSH bands (append)
    pairs_dir: str          # near-dup pairs (batch_id partitions)
    tombstones_dir: str     # kept-set retractions (batch_id partitions)
    bloom_dir: str          # frozen decontam bloom words
    decontam_dir: str       # per-doc verdicts (batch_id partitions)
    dsir_weights_dir: str   # frozen DSIR weight table
    dsir_scores_dir: str    # per-doc scores (batch_id partitions)
    kept_dir: str           # kept doc_ids (batch_id partitions)
    perceptron_root: str    # versioned weight store
    cms_dir: str            # CMS cell deltas (batch_id partitions)
    hll_dir: str            # HLL register deltas (batch_id partitions)
    centroid_dir: str       # frozen IVF centroids
    assign_dir: str         # IVF assignments (batch_id partitions)
    pca_dir: str            # PCA moment deltas (batch_id partitions)
    sample_dir: str         # holdout bottom-k deltas (batch_id partitions)
    islands_dir: str        # flagship islands (batch_id partitions)

    @classmethod
    def under(cls, root: str) -> "PipelineStores":
        import os
        return cls(**{f: os.path.join(root, f[:-4] if f.endswith("_dir")
                                      else f)
                      for f in cls.__dataclass_fields__})


def init_pipeline_stores(spark: SparkSession, stores: PipelineStores,
                         bench_docs: DataFrame, ref_corpus: DataFrame,
                         emb: DataFrame) -> dict:
    """Freeze the model-like stores before streaming starts: the
    decontam bloom from the benchmark/eval docs, the DSIR weights from
    the reference corpus, zeroed perceptron weights, IVF centroids
    from the embedding table. Returns the init sizes (for logging)."""
    return {
        "bloom_words": build_bloom_store(bench_docs, stores.bloom_dir),
        "dsir_vocab": build_weight_store(ref_corpus,
                                         stores.dsir_weights_dir),
        "perceptron_version": init_weight_store(spark,
                                                stores.perceptron_root),
        "ivf_centroids": build_centroid_store(emb, stores.centroid_dir),
    }


def gate_neardup(batch_docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep-first pairwise gate: drop every doc that appears as the
    GREATER member of any discovered pair."""
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return batch_docs.join(losers, "doc_id", "left_anti")


def gate_decontam(docs: DataFrame, bloom_store: DataFrame) -> DataFrame:
    """Drop docs with >= half their shingles bloom-positive."""
    v = probe_bloom(docs, bloom_store)
    clean = (v.filter(2 * F.col("n_candidates") < F.col("n_shingles"))
             .select("doc_id"))
    return docs.join(clean, "doc_id", "left_semi")


def gate_dsir(docs: DataFrame, weight_store: DataFrame) -> DataFrame:
    """Keep target-like docs (positive average log-ratio)."""
    s = score_against_store(docs, weight_store)
    keep = s.filter(F.col("target_like")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def _pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Pin `df` (eager localCheckpoint) and return it with its row
    count. The count comes from an observed metric of the checkpoint's
    own job, so it costs no extra Spark action."""
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True)
    return pinned, int(obs.get["n"])


def foreach_batch_corpus_pipeline(batch_df: DataFrame, batch_id: int,
                                  stores: PipelineStores,
                                  emb_path: str | None = None,
                                  catalog_root: str | None = None) -> dict:
    """One micro-batch through all nine stores (module docstring), as
    a fixed dependency graph: the gate chain runs on the calling
    thread, every other stage on `_Stages`' pool as soon as its input
    is pinned. Every stage writes through its own store's proven
    foreach/commit function; the decontam and DSIR stages return the
    verdicts they wrote, and the pipeline gates on those instead of
    recomputing them. Safe to replay with the same batch_id: partition
    stores overwrite themselves, the band append is anti-join-guarded,
    the perceptron skips via its applied-batch watermark. Returns per-
    stage row counts (driver-side observability only), all taken from
    checkpoints the batch runs anyway."""
    spark = batch_df.sparkSession
    batch_docs, n_in = _pin_counted(batch_df.select(*DOC_COLS))

    with _Stages(spark) as stages:
        # 0. flagship islands for the ARRIVING docs (pre-gates — the
        # reference scores and islands every (vid, model) pair before
        # any curation, island_worker.py:150-184). Pure per-doc math ⇒
        # the union across batches equals islands_flagship over the
        # corpus. Needs nothing but the pinned batch.
        stages.start(foreach_batch_islands,
                     batch_docs.select("doc_id", "text"), batch_id,
                     stores.islands_dir)

        # 1. near-dup: grow the band store, land this batch's pairs
        foreach_batch_neardup(batch_docs.select("doc_id", "text"),
                              batch_id, stores.bands_dir, stores.pairs_dir)
        # The arrival-time gate sees only pairs known AS OF this batch
        # (partitions <= batch_id): a replayed batch then rebuilds its
        # kept partition byte-identically even after later batches
        # have landed more pairs — late knowledge reaches the product
        # only through the tombstone channel, never by rewriting
        # history.
        all_pairs = read_pairs(spark, stores.pairs_dir, dedup=False)
        tombstones = stages.start(_land_tombstones, all_pairs, batch_id,
                                  stores)
        known_now = (all_pairs.filter(F.col("batch_id") <= int(batch_id))
                     .select("doc_a", "doc_b").distinct())
        kept = gate_neardup(batch_docs, known_now).localCheckpoint(
            eager=True)

        # 2. decontam: verdicts for the survivors, then gate on them
        # (gate_decontam's rule: < half the shingles bloom-positive)
        verdicts = foreach_batch_decontam(kept.select("doc_id", "text"),
                                          batch_id, stores.bloom_dir,
                                          stores.decontam_dir)
        kept = kept.join(
            verdicts.filter(2 * F.col("n_candidates") < F.col("n_shingles"))
            .select("doc_id"), "doc_id", "left_semi")

        # 3. DSIR: scores for the survivors, then gate on them
        # (gate_dsir's rule: keep target-like docs)
        scores = foreach_batch_dsir(kept, batch_id,
                                    stores.dsir_weights_dir,
                                    stores.dsir_scores_dir)
        kept, n_kept = _pin_counted(kept.join(
            scores.filter(F.col("target_like")).select("doc_id"), "doc_id",
            "left_semi"))

        # 4. the kept-set — the pipeline's product. Only after the
        # tombstone stage, which reads this store: on a replay the
        # dynamic overwrite deletes this batch's partition under it.
        stages.start(write_batch_partition, kept.select("doc_id"),
                     batch_id, stores.kept_dir, size_aware=True,
                     after=(tombstones,))

        # 9. holdout sample delta (bottom-k), 5. perceptron online
        # update (exactly-once), 6. CMS + HLL profile: each needs only
        # the pinned kept frame
        stages.start(foreach_batch_sample, kept, batch_id,
                     stores.sample_dir)
        applied = stages.start(foreach_batch_perceptron, kept, batch_id,
                               stores.perceptron_root,
                               stream_id="corpus_pipeline")
        stages.start(foreach_batch_sketch, kept, batch_id, stores.cms_dir)
        stages.start(foreach_batch_hll, kept, batch_id, stores.hll_dir,
                     group_col="source", id_col="doc_id")

        # 7. IVF assignment and 8. PCA moment deltas for the kept docs
        # that carry vectors, pinned once for both stores
        vectors = None
        if emb_path is not None:
            vectors = stages.start(_pin_vectors, spark, emb_path, kept)
            stages.start(_land_vectors, vectors, foreach_batch_ivf,
                         batch_id, stores.centroid_dir, stores.assign_dir)
            stages.start(_land_vectors, vectors, foreach_batch_pca,
                         batch_id, stores.pca_dir)

    if catalog_root is not None:
        publish_snapshot(spark, stores, catalog_root, batch_id)

    return {"batch_id": batch_id, "in": n_in, "kept": n_kept,
            "perceptron_applied": applied.result(),
            "vectors_assigned": vectors.result()[1] if vectors else 0}


# One thread per stage a batch starts off the calling thread (islands,
# tombstones, kept write, sample, perceptron, CMS, HLL, vector pin, IVF,
# PCA): a stage waiting for its input blocks only its own thread, and
# no stage queues behind another.
_POOL_STAGES = 10


class _Stages:
    """The stages one batch runs beside its gate chain. `start` runs
    ``fn(*args, **kwargs)`` on the pool after every future in `after`
    has returned, in the caller's Spark thread context: job group,
    local properties and session tags. Leaving the block waits for
    every started stage, then re-raises the first error in start
    order, so no write is still running when the batch returns."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._pool = ThreadPoolExecutor(_POOL_STAGES,
                                        thread_name_prefix="pipeline-stage")
        self._started: list[Future] = []

    def __enter__(self) -> "_Stages":
        return self

    def start(self, fn, *args, after: tuple[Future, ...] = (),
              **kwargs) -> Future:
        def stage():
            for dep in after:
                dep.result()
            return fn(*args, **kwargs)
        # Each wrap clones the caller's local properties, so no two
        # stages share (and clobber) one property set.
        fut = self._pool.submit(inheritable_thread_target(self._spark)(stage))
        self._started.append(fut)
        return fut

    def __exit__(self, exc_type, exc, tb) -> None:
        self._pool.shutdown(wait=True, cancel_futures=exc_type is not None)
        for fut in self._started:
            if not fut.cancelled() and fut.exception() is not None:
                raise fut.exception()


def _land_tombstones(all_pairs: DataFrame, batch_id: int,
                     stores: PipelineStores) -> None:
    """1b. retraction tombstones: a doc kept in an EARLIER batch that
    the now-complete pair store names as a loser (its smaller-id
    partner arrived after it did) is retracted. Idempotent: the
    verdicts are deterministic from the pair store, the anti-join
    excludes only OTHER batches' tombstones (so a replay rebuilds its
    own partition identically), and current-batch kept docs can never
    qualify (gate_neardup filters the same loser set)."""
    spark = all_pairs.sparkSession
    if not store_has_data(spark, stores.kept_dir):
        return
    losers = all_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    elsewhere = (read_tombstones(spark, stores.tombstones_dir)
                 .filter(F.col("batch_id") != int(batch_id))
                 .select("doc_id"))
    new_tombs = (losers
                 .join(read_kept(spark, stores.kept_dir), "doc_id",
                       "left_semi")
                 .join(elsewhere, "doc_id", "left_anti"))
    write_batch_partition(new_tombs, batch_id, stores.tombstones_dir,
                          size_aware=True)


def _pin_vectors(spark: SparkSession, emb_path: str,
                 kept: DataFrame) -> tuple[DataFrame, int]:
    """The kept docs' embedding rows, pinned and counted."""
    emb = spark.read.schema(EMBEDDING_SCHEMA).parquet(emb_path)
    return _pin_counted(emb.join(
        kept.select(F.col("doc_id").alias("vec_id")), "vec_id",
        "left_semi"))


def _land_vectors(vectors: Future, land, batch_id: int, *dirs: str) -> None:
    """Run a vector store's foreach function on the pinned vectors,
    once `_pin_vectors` has returned, when there are any."""
    batch_emb, n_vec = vectors.result()
    if n_vec:
        land(batch_emb, batch_id, *dirs)


# --- consistent cross-store snapshots (sources/catalog.py) ----------------
# Every store is individually recoverable, but their LATEST states can
# interleave mid-batch: a reader polling between stage 4 and stage 6
# would see batch N's kept-set beside batch N-1's sketches. The
# manifest closes that: after all nine stages land, one catalog commit
# pins the batch high-water mark (and the perceptron store's committed
# version); consistent readers filter every partitioned store to
# batch_id <= the pinned mark and read the weight store at the pinned
# version — a snapshot-isolated view of the WHOLE pipeline, the
# cross-table property the reference gets from Postgres transactions.

_WATERMARK_KEY = "pipeline_batch_watermark"


def publish_snapshot(spark: SparkSession, stores: PipelineStores,
                     catalog_root: str, batch_id: int) -> int:
    """Pin the just-completed batch as the consistent read point.
    Idempotent under replay: republishing an already-covered batch
    keeps the monotone high-water mark (max), so a crash-retry of an
    old batch never moves consistent readers backwards."""
    from transcript_analysis_spark.sources.catalog import transact
    from transcript_analysis_spark.sources.versioned import latest_version

    pv = latest_version(spark, stores.perceptron_root)

    def tx(pinned: dict) -> dict:
        wm = max(int(pinned.get(_WATERMARK_KEY, -1)), int(batch_id))
        return {**pinned, _WATERMARK_KEY: wm,
                stores.perceptron_root: int(pv)}

    return transact(spark, catalog_root, tx)


def snapshot_watermark(spark: SparkSession, catalog_root: str) -> int:
    """The pinned batch high-water mark (-1 before any publish)."""
    from transcript_analysis_spark.sources.catalog import read_catalog
    return int(read_catalog(spark, catalog_root).get(_WATERMARK_KEY, -1))


def read_kept_consistent(spark: SparkSession, stores: PipelineStores,
                         catalog_root: str) -> DataFrame:
    """The finalized kept-set at the pinned snapshot: kept minus
    tombstones, both truncated to the published watermark — in-flight
    batches are invisible even though their partitions already exist."""
    wm = snapshot_watermark(spark, catalog_root)
    kept = read_kept(spark, stores.kept_dir) \
        .filter(F.col("batch_id") <= wm)
    tombs = read_tombstones(spark, stores.tombstones_dir) \
        .filter(F.col("batch_id") <= wm)
    return kept.join(tombs.select("doc_id"), "doc_id", "left_anti")


def read_store_consistent(spark: SparkSession, store_dir: str,
                          catalog_root: str) -> DataFrame:
    """Any batch_id-partitioned store truncated to the pinned
    watermark (callers apply their store's own merge on top)."""
    wm = snapshot_watermark(spark, catalog_root)
    return spark.read.parquet(store_dir).filter(F.col("batch_id") <= wm)


def compact_pipeline_stores(spark: SparkSession, stores: PipelineStores,
                            catalog_root: str,
                            coalesce: int | None = None) -> dict[str, int]:
    """Routine maintenance for the batch_id-partitioned stores: every
    partition at or below the SAFE compaction point is collapsed into
    ONE partition stamped with that point — at 100 TB, thousands of
    per-batch delta partitions bottleneck the scheduler and parquet
    footer reads long before data volume does. With the default
    ``coalesce=None`` each store's rewrite fan-out comes from the
    shared size policy (`store_io.partitions_for` on the compacted row
    count, already in hand) — one file for sketch-sized stores,
    hundreds of write tasks for a 100 TB kept-set; pass an int to pin
    it explicitly.

    Why this is lossless for every reader and writer:
    - Consistent readers filter ``batch_id <= watermark``; the
      collapsed partition's stamp is <= the published watermark, and
      the watermark is monotone (publish_snapshot), so the filtered
      row set is IDENTICAL before and after.
    - The arrival-time gates filter ``batch_id <= current`` for
      current > watermark — again unchanged.
    - Replays: under foreachBatch checkpointing only the in-flight
      batch can be redelivered, and a crash after publish but before
      the checkpoint commit can still replay the watermark batch
      itself — so the compaction point is ``watermark - 1``, leaving
      the newest published partition untouched for its potential
      dynamic-partition overwrite.
    Returns {store dir: rows compacted} (for the latest-wins islands
    and deliveries stores, delegated below: rows DROPPED as
    superseded)."""
    from transcript_analysis_spark.sources.sinks import write_and_swap

    through = snapshot_watermark(spark, catalog_root) - 1
    out: dict[str, int] = {}
    # The islands + deliveries stores are LATEST-WINS (batch_id is
    # semantic — a later re-delivery supersedes), so the blind
    # one-stamp collapse below would resurface superseded islands
    # beside their replacements; they get the upsert-correct
    # compaction instead (drop superseded generations, stamps intact).
    if through >= 0 and store_has_data(spark, stores.islands_dir):
        out.update(compact_islands_store(spark, stores.islands_dir,
                                         through))
    batch_stores = (stores.pairs_dir, stores.decontam_dir,
                    stores.dsir_scores_dir, stores.kept_dir,
                    stores.cms_dir, stores.hll_dir, stores.assign_dir,
                    stores.pca_dir, stores.sample_dir,
                    stores.tombstones_dir)
    for d in batch_stores:
        if through < 0 or not store_has_data(spark, d):
            continue
        df = spark.read.parquet(d)
        old = df.filter(F.col("batch_id") <= through)
        n = old.count()
        if n == 0:
            continue
        # row width from the store's OWN footers, falling back to
        # the shared default for unreadable layouts
        collapsed = (old.drop("batch_id")
                     .withColumn("batch_id", F.lit(int(through)))
                     .coalesce(coalesce
                               if coalesce is not None
                               else partitions_for(
                                   n, observed_row_bytes(d)
                                   or DEFAULT_ROW_BYTES)))
        recent = df.filter(F.col("batch_id") > through)
        write_and_swap(collapsed.unionByName(recent), d,
                       partition_by=["batch_id"])
        out[d] = n
    return out


def run_corpus_pipeline_stream(stream_docs: DataFrame,
                               stores: PipelineStores,
                               checkpoint_dir: str,
                               emb_path: str | None = None,
                               catalog_root: str | None = None):
    """AvailableNow foreachBatch driver for the composed pipeline."""
    return (stream_docs.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_corpus_pipeline(
                df, bid, stores, emb_path, catalog_root))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_kept(spark: SparkSession, kept_dir: str) -> DataFrame:
    """The raw arrival-time kept-set across all batches
    (doc_id, batch_id) — before retractions. The finalized product is
    `read_kept_final`."""
    return read_store(spark, kept_dir, KEPT_SCHEMA)


def read_tombstones(spark: SparkSession, tombstones_dir: str) -> DataFrame:
    """Retraction rows (doc_id, batch_id of the discovering batch);
    empty before any batch has retracted a doc (a fully id-ordered
    run never does)."""
    return read_store(spark, tombstones_dir, TOMBSTONE_SCHEMA)


def read_kept_final(spark: SparkSession, kept_dir: str,
                    tombstones_dir: str) -> DataFrame:
    """The pipeline's finalized kept-set: arrival-time keeps minus
    retraction tombstones. Equals `batch_composite_kept` under any
    arrival order (tested)."""
    return read_kept(spark, kept_dir).join(
        read_tombstones(spark, tombstones_dir).select("doc_id"),
        "doc_id", "left_anti")


def batch_composite_kept(all_docs: DataFrame, bloom_store: DataFrame,
                         weight_store: DataFrame) -> DataFrame:
    """The SAME three gates as one batch plan over the full corpus —
    the equivalence oracle for the streamed kept-set. Near-dup rule:
    drop any doc sharing a band bucket with a smaller doc_id (the
    pairwise keep-first rule, identical band fold as the store)."""
    from transcript_analysis_spark.streaming.neardup import \
        minhash_band_keys
    bands = minhash_band_keys(all_docs.select("doc_id", "text"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")).distinct())
    kept = gate_neardup(all_docs, pairs)
    kept = gate_decontam(kept, bloom_store)
    return gate_dsir(kept, weight_store).select("doc_id")
