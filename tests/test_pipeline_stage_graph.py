"""The composed pipeline's batch as a dependency graph of stages
(streaming/pipeline.py): driven by the real foreachBatch stream
driver, and failing cleanly when one stage raises — every started
stage lands before the error surfaces, nothing is published, and the
redelivered batch replays to the same product."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from transcript_analysis_spark.sources.tables import load_table
from transcript_analysis_spark.streaming import pipeline as pl
from transcript_analysis_spark.streaming.perceptron_store import read_weights

SF_DIR = "/root/testdata/sf0.001"
EMB_PATH = f"{SF_DIR}/embeddings.parquet"


def _init(spark, root):
    stores = pl.PipelineStores.under(root)
    docs = load_table(spark, SF_DIR, "documents").select(*pl.DOC_COLS)
    pl.init_pipeline_stores(spark, stores,
                            docs.filter(F.col("doc_id") % 17 == 3), docs,
                            spark.read.parquet(EMB_PATH))
    return stores, docs


def _final_equals_composite(spark, stores, arrived):
    final = {r.doc_id for r in pl.read_kept_final(
        spark, stores.kept_dir, stores.tombstones_dir).collect()}
    composite = {r.doc_id for r in pl.batch_composite_kept(
        arrived, spark.read.parquet(stores.bloom_dir),
        spark.read.parquet(stores.dsir_weights_dir)).collect()}
    assert final and final == composite


def test_foreach_batch_stream_driver_lands_every_batch(spark, tmp_path):
    """`run_corpus_pipeline_stream` over three arriving files, one per
    micro-batch: the graph runs inside the stream's batch thread, every
    batch publishes, and the product equals the batch composite."""
    stores, docs = _init(spark, str(tmp_path / "stores"))
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    doc_id = F.col("doc_id")
    batches = [docs.filter(doc_id < 170),
               docs.filter((doc_id >= 170) & (doc_id < 340)),
               docs.filter(doc_id >= 340)]
    for k, part in enumerate(batches):
        staged = str(tmp_path / f"staged_{k}")
        part.coalesce(1).write.parquet(staged)
        (data_file,) = glob.glob(f"{staged}/part-*.parquet")
        os.replace(data_file, arrivals / f"batch_{k}.parquet")
        os.utime(arrivals / f"batch_{k}.parquet", (k, k))

    cat = str(tmp_path / "cat")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(arrivals)))
    query = pl.run_corpus_pipeline_stream(stream, stores,
                                          str(tmp_path / "ckpt"), EMB_PATH,
                                          catalog_root=cat)
    assert query.awaitTermination(timeout=600), "stream did not drain"
    assert query.exception() is None
    assert pl.snapshot_watermark(spark, cat) == 2
    _final_equals_composite(spark, stores, docs)


def test_failed_stage_lands_the_rest_and_replays_clean(spark, tmp_path,
                                                       monkeypatch):
    """A post-kept stage raises: the batch re-raises that error only
    after every started stage has finished (no job still running), the
    watermark does not move, and replaying the batch id yields the
    composite with the perceptron having applied the batch once."""
    stores, docs = _init(spark, str(tmp_path / "stores"))
    cat = str(tmp_path / "cat")
    doc_id = F.col("doc_id")
    b0, b1 = docs.filter(doc_id < 120), docs.filter(
        (doc_id >= 120) & (doc_id < 240))
    pl.foreach_batch_corpus_pipeline(b0, 0, stores, EMB_PATH, cat)
    assert pl.snapshot_watermark(spark, cat) == 0

    def sketch_store_down(*args, **kwargs):
        raise RuntimeError("sketch store down")

    monkeypatch.setattr(pl, "foreach_batch_sketch", sketch_store_down)
    with pytest.raises(RuntimeError, match="sketch store down"):
        pl.foreach_batch_corpus_pipeline(b1, 1, stores, EMB_PATH, cat)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert pl.snapshot_watermark(spark, cat) == 0

    monkeypatch.undo()
    replay = pl.foreach_batch_corpus_pipeline(b1, 1, stores, EMB_PATH, cat)
    assert pl.snapshot_watermark(spark, cat) == 1
    # the perceptron stage ran to its commit beside the failed one
    assert replay["perceptron_applied"] is False
    _final_equals_composite(spark, stores, b0.unionByName(b1))
    w = read_weights(spark, stores.perceptron_root)
    assert w["n_seen"] == pl.read_kept(spark, stores.kept_dir).count()
    assert json.loads(w["applied_json"]) == {"corpus_pipeline": 1}
