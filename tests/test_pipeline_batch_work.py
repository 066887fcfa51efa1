"""The composed streaming pipeline's fixed cost per micro-batch, pinned
without timing noise: the number of Spark jobs one warm batch runs,
the row counts it reports without count actions, and the declared
schemas its stores are read with (streaming/pipeline.py,
streaming/store_io.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from transcript_analysis_spark.sources.tables import load_table
from transcript_analysis_spark.streaming import pipeline as pl

SF_DIR = "/root/testdata/sf0.001"

# Spark jobs of the warm 100-document batch below: one action per
# store write, each gate's verdicts computed once, no count or
# schema-inference jobs. A checkpoint and count before every
# size-aware write, re-derived gates, count actions and untyped reads
# made it 103.
WARM_BATCH_JOB_CEILING = 60


@pytest.fixture(scope="module")
def warm_batch(spark, tmp_path_factory):
    """Init the stores, land two out-of-order batches, then run a
    third, warm one under its own job group."""
    stores = pl.PipelineStores.under(str(tmp_path_factory.mktemp("work")))
    docs = load_table(spark, SF_DIR, "documents")
    emb_path = f"{SF_DIR}/embeddings.parquet"
    pl.init_pipeline_stores(spark, stores,
                            docs.filter(F.col("doc_id") % 17 == 3), docs,
                            spark.read.parquet(emb_path))
    doc_id = F.col("doc_id")
    pl.foreach_batch_corpus_pipeline(docs.filter(doc_id >= 400), 0,
                                     stores, emb_path)
    pl.foreach_batch_corpus_pipeline(docs.filter(doc_id < 100), 1,
                                     stores, emb_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("warm-pipeline-batch", "one warm pipeline batch")
    try:
        report = pl.foreach_batch_corpus_pipeline(
            docs.filter((doc_id >= 100) & (doc_id < 200)), 2, stores,
            emb_path)
        jobs = list(tracker.getJobIdsForGroup("warm-pipeline-batch"))
        ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"stores": stores, "report": report, "jobs": jobs,
            "ungrouped": ungrouped, "emb_path": emb_path}


def test_warm_batch_job_count_is_pinned(warm_batch):
    """A job added to every micro-batch fails here, whatever the
    machine's speed."""
    assert len(warm_batch["jobs"]) <= WARM_BATCH_JOB_CEILING, (
        f"one warm pipeline batch ran {len(warm_batch['jobs'])} Spark "
        f"jobs, ceiling {WARM_BATCH_JOB_CEILING}")


def test_no_stage_loses_the_callers_job_group(warm_batch):
    """The batch runs most stages on a thread pool; each must run in
    the caller's job group, or the ceiling above would miss jobs that
    escaped it."""
    assert not warm_batch["ungrouped"], (
        f"jobs {sorted(warm_batch['ungrouped'])} ran outside the "
        f"caller's job group")


def test_every_perceptron_version_is_one_file(warm_batch):
    """The one-row weights frame commits as one parquet file per
    version, not an empty file beside the row."""
    root = warm_batch["stores"].perceptron_root
    versions = sorted(n for n in os.listdir(root) if n.startswith("v_"))
    assert len(versions) == 4          # init + three batches
    for v in versions:
        files = [n for n in os.listdir(os.path.join(root, v))
                 if n.endswith(".parquet")]
        assert len(files) == 1, (v, files)


def test_observed_counts_match_the_stores(spark, warm_batch):
    """The report's counts come from observed metrics, not count
    actions; they must equal what the batch landed."""
    stores, report = warm_batch["stores"], warm_batch["report"]
    kept = (pl.read_kept(spark, stores.kept_dir)
            .filter(F.col("batch_id") == 2).count())
    assigned = (spark.read.parquet(stores.assign_dir)
                .filter(F.col("batch_id") == 2).count())
    assert report["in"] == 100
    assert 0 < report["kept"] == kept
    assert 0 < report["vectors_assigned"] == assigned
    assert report["perceptron_applied"] is True


def _declared(spark, ddl: str) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString())
            for f in spark.createDataFrame([], ddl).schema]


def test_declared_store_schemas_match_what_the_stores_hold(spark,
                                                          warm_batch):
    """Every typed read uses a schema declared next to its writer; it
    must name exactly the columns and types the writer lands. The
    batch_id partition column is compared by name only: inference
    types it int, the declared reads widen it to long."""
    from transcript_analysis_spark.streaming import (
        decontam, dsir_store, islands_store, ivf_store, neardup,
        pca_store, sample_store, sketch_store)
    from transcript_analysis_spark.streaming.perceptron_store import (
        _SCHEMA as PERCEPTRON_SCHEMA)
    from transcript_analysis_spark.sources.versioned import latest_version

    stores = warm_batch["stores"]
    weights = (f"{stores.perceptron_root}/v_"
               f"{latest_version(spark, stores.perceptron_root):08d}")
    declared = {
        stores.bands_dir: neardup.BANDS_SCHEMA,
        stores.pairs_dir: neardup.PAIRS_SCHEMA,
        stores.tombstones_dir: pl.TOMBSTONE_SCHEMA,
        stores.bloom_dir: decontam.BLOOM_SCHEMA,
        stores.decontam_dir: decontam.VERDICT_SCHEMA,
        stores.dsir_weights_dir: dsir_store.WEIGHT_SCHEMA,
        stores.dsir_scores_dir: dsir_store.SCORE_SCHEMA,
        stores.kept_dir: pl.KEPT_SCHEMA,
        weights: PERCEPTRON_SCHEMA,
        stores.cms_dir: sketch_store.CMS_SCHEMA,
        stores.centroid_dir: ivf_store.CENTROID_SCHEMA,
        stores.assign_dir: ivf_store.ASSIGN_SCHEMA,
        stores.pca_dir: pca_store.MOMENT_SCHEMA,
        stores.sample_dir: sample_store.SAMPLE_SCHEMA,
        stores.islands_dir: islands_store.ISLANDS_SCHEMA,
        islands_store.deliveries_dir_of(stores.islands_dir):
            islands_store.DELIVERY_SCHEMA,
        warm_batch["emb_path"]: ivf_store.EMBEDDING_SCHEMA,
    }
    checked = 0
    for path, ddl in declared.items():
        if not pl.store_has_data(spark, path):
            continue
        partitioned = os.path.isdir(path) and any(
            n.startswith("batch_id=") for n in os.listdir(path))
        inferred = [(f.name, f.dataType.simpleString())
                    for f in spark.read.parquet(path).schema]
        want = _declared(spark, ddl)
        if partitioned:
            inferred = [(n, "partition" if n == "batch_id" else t)
                        for n, t in inferred]
            want = [(n, "partition" if n == "batch_id" else t)
                    for n, t in want]
        assert inferred == want, path
        checked += 1
    # every store but (possibly) the tombstones holds data by now
    assert checked >= len(declared) - 1
