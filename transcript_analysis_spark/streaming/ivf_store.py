"""Incremental IVF index maintenance over an embedding stream — the
SEVENTH persisted-store streaming operator (LSH bands, bloom, CMS,
HLL, DSIR weights, perceptron weights, now IVF assignments).

The batch query (`ivf_topk_probe`, plans/data_pipeline.py) assigns
every vector to its nearest centroid inside one plan. At production
scale the centroid table is fit once and FROZEN (the DSIR-store
"frozen model" algebra — probe routing must stay stable or cached
bucket statistics drift), while vectors arrive continuously: each
micro-batch assigns only its own vectors against the broadcast
centroids and appends a ``batch_id=N`` partition of
(vec_id, cent_id, cos9) rows — dynamic partition overwrite, so a
replayed batch rewrites its own output and never duplicates
(assignment is idempotent math, unlike the perceptron store's
updates, so partition overwrite alone is exactly-once).

Every piece of arithmetic here — vector view, centroid rule,
assignment argmax, probe routing, exact re-rank — is IMPORTED from
the registered probe's shared helpers (`ivf_vectors`,
`ivf_seed_centroids`, `ivf_assign`, `ivf_probe_centroids`,
`ivf_exact_topk`), so the store cannot drift from the query it
serves. Equivalence is still tested three ways: streamed assignments
== the batch assignment frame, replay changes nothing, and
store-backed search returns row-for-row the registered
`ivf_topk_probe` output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.plans.data_pipeline import (
    IVF_NPROBE,
    ivf_assign,
    ivf_exact_topk,
    ivf_probe_centroids,
    ivf_seed_centroids,
    ivf_vectors,
)
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

# The corpus embeddings table the store assigns, and the store's own
# two tables.
EMBEDDING_SCHEMA = "vec_id long, embedding array<float>, label int"
CENTROID_SCHEMA = "cent_id long, cv array<double>"
ASSIGN_SCHEMA = "vec_id long, cent_id long, cos9 double, batch_id long"


def build_centroid_store(emb: DataFrame, centroid_dir: str) -> int:
    """Freeze the centroid table and persist it. Returns the centroid
    count (counted on the frame — no re-read of the written files)."""
    cents = ivf_seed_centroids(ivf_vectors(emb))
    n = cents.count()
    cents.write.mode("overwrite").parquet(centroid_dir)
    return n


def assign_against_store(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cent_id, cos9) nearest-centroid assignment — the
    registered probe's exact argmax via the shared helper."""
    return (ivf_assign(ivf_vectors(emb), cents)
            .select("vec_id", "cent_id", "cos9"))


def foreach_batch_ivf(batch_df: DataFrame, batch_id: int,
                      centroid_dir: str, assign_dir: str) -> None:
    """Assign one micro-batch of (vec_id, label, embedding) rows and
    land them in a batch_id partition (replay-idempotent overwrite)."""
    cents = read_store(batch_df.sparkSession, centroid_dir, CENTROID_SCHEMA)
    write_batch_partition(assign_against_store(batch_df, cents), batch_id,
                          assign_dir)


def read_assignments(spark: SparkSession, assign_dir: str) -> DataFrame:
    return read_store(spark, assign_dir, ASSIGN_SCHEMA)


def search_store(spark: SparkSession, centroid_dir: str, assign_dir: str,
                 vectors: DataFrame, k: int = 10,
                 nprobe: int = IVF_NPROBE) -> DataFrame:
    """ANN top-k through the maintained index: nprobe nearest
    centroids for the query (vec_id 0 of `vectors`, matching the
    registered probe), bucket lookup in the assignment store, exact
    cosine only on those buckets' vectors. Returns (vec_id, label,
    cosine) — the registered `ivf_topk_probe` contract, built from
    the same helpers."""
    v = ivf_vectors(vectors)
    cents = read_store(spark, centroid_dir, CENTROID_SCHEMA)
    q = v.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    top_cents = ivf_probe_centroids(cents, q, nprobe)
    bucket_ids = (read_assignments(spark, assign_dir)
                  .join(F.broadcast(top_cents), "cent_id")
                  .filter(F.col("vec_id") != 0)
                  .select("vec_id").distinct())
    return ivf_exact_topk(bucket_ids.join(v, "vec_id"), q, k)
