"""Variant builders for tools/ab_bench.py.

Each experiment maps variant names to builder(spark, sf_dir) -> DataFrame.
Only experiments whose decision is still open are kept; decided ones
(and their measurements) are recorded in OPTIMIZATION_r13.md,
OPTIMIZATION_r14.md and SCALE.md and live on in git history.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from transcript_analysis_spark.plans import all_queries  # noqa: E402


def _q(name):
    return all_queries()[name].fn


def _bloom_fused(spark, sf_dir):
    """bloom_prefilter_contamination with ONE corpus shingle pass:
    occurrences collapse to per-(doc, shingle, is_eval) counts in one
    checkpoint; the train set and both probe branches derive from it,
    so the corpus is exploded once (currently twice: train chain and
    eval chain each re-run _spark_shingles). Totals re-weight by cnt —
    exact."""
    from transcript_analysis_spark.plans.data_pipeline import (
        EVAL_SOURCES, _spark_shingles, _t, spark_char_hash)
    from transcript_analysis_spark.plans.scale_ops import (
        bloom_hit_column, bloom_words)

    sh = _spark_shingles(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    occ = (sh.join(src, "doc_id")
           .groupBy("doc_id", "shingle",
                    F.col("source").isin(*EVAL_SOURCES).alias("is_eval"))
           .agg(F.count(F.lit(1)).alias("cnt"))
           .localCheckpoint(eager=True))
    train = (occ.filter(~F.col("is_eval"))
             .select("shingle").distinct().localCheckpoint(eager=True))
    bwords = bloom_words(train)
    bitmap = bwords.agg(F.map_from_entries(
        F.collect_list(F.struct("w", "bits"))).alias("bm"))
    ev = (occ.filter(F.col("is_eval"))
          .withColumn("h", F.expr(spark_char_hash("shingle"))))
    probe = (ev.join(F.broadcast(bitmap))
             .select("doc_id", "shingle", "cnt",
                     bloom_hit_column("h", "bm").alias("bloom_hit")))
    pos = (probe.filter("bloom_hit")
           .join(train.withColumn("in_train", F.lit(1)),
                 "shingle", "left")
           .select("doc_id", "cnt", F.col("cnt").alias("cand_cnt"),
                   (F.coalesce("in_train", F.lit(0)) * F.col("cnt"))
                   .alias("overlap_cnt")))
    neg = (probe.filter(~F.col("bloom_hit"))
           .select("doc_id", "cnt", F.lit(0).alias("cand_cnt"),
                   F.lit(0).alias("overlap_cnt")))
    return (pos.unionAll(neg)
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("n_shingles"),
                 F.sum("cand_cnt").cast("long").alias("n_candidates"),
                 F.sum("overlap_cnt").cast("long").alias("n_overlap"))
            .select("doc_id", "n_shingles", "n_candidates", "n_overlap",
                    (F.col("n_candidates") - F.col("n_overlap"))
                    .cast("long").alias("n_false_positives")))


def exp_bloom2(spark):
    return {"bloom:current": _q("bloom_prefilter_contamination"),
            "bloom:fusedocc": _bloom_fused}


EXPERIMENTS = {"bloom2": exp_bloom2}
