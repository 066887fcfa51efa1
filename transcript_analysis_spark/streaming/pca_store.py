"""Incremental PCA moment store — the EIGHTH persisted-store
streaming operator.

The batch query (`power_iteration_top_pc`, plans/sketches.py) derives
the corpus' dominant principal direction from T passes over the
centered quantized frame. At 100 TB new embedding shards arrive
continuously and the corpus is never rescanned: each micro-batch folds
ONLY its own vectors into exact integer moment deltas — count, column
sums, and the upper triangle of the raw Gram matrix sum(v v^T) — at
most 1 + 64 + 2080 = 2145 rows per batch REGARDLESS of batch size
(map-side combine collapses each partition before the shuffle), landed
in a ``batch_id=N`` partition. Moments are sums, so the merge is
addition — the same mergeable-algebra property as the CMS store.

The trajectory is then derived from the merged moments in exact
integer arithmetic on the driver (64x64 numbers, microseconds):
centering, the round update s = (Y^T Y) w, and the half-up
renormalization are algebraically identical to the batch query's
s = Y^T (Y w) — associativity holds exactly in integers — so the
streamed trajectory EQUALS the batch query's output row for row, for
ANY split of the corpus into micro-batches (tested).

Replay contract (same recovery shape as the other seven stores): a
replayed micro-batch dynamic-partition-overwrites its own batch_id
partition; moment deltas are pure functions of the batch, so retries
never double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.plans.sketches import (KM_DIM, KM_SCALE,
                                                      PI_DIR_SCALE, PI_T)
from transcript_analysis_spark.streaming.store_io import (
    read_store, write_batch_partition)

MOMENT_SCHEMA = "i int, j int, s decimal(38,0), batch_id long"

# store row conventions: (i=-1, j=-1) -> vector count;
# (i, j=-1) -> colsum_i; (i, j >= i) -> sum(v_i * v_j) upper triangle
_MOMENT_EXPR = f"""
flatten(array(
  array(struct(-1 AS i, -1 AS j, 1L AS t)),
  transform(sequence(0, {KM_DIM - 1}),
            i -> struct(i AS i, -1 AS j, v[i] AS t)),
  flatten(transform(sequence(0, {KM_DIM - 1}),
    i -> transform(sequence(i, {KM_DIM - 1}),
                   j -> struct(i AS i, j AS j, v[i] * v[j] AS t))))
))"""


def batch_moments(vectors: DataFrame) -> DataFrame:
    """Exact integer moment deltas for one (vec_id, embedding) frame:
    <= 2145 rows out. Per-row products |v_i v_j| <= 2^34 fit long;
    the cross-row sums accumulate in DECIMAL(38,0) (safe to ~2^92
    vectors per batch)."""
    v = vectors.select(
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * KM_SCALE + F.lit(0.5))
                    .cast("bigint")).alias("v"))
    return (v.select(F.explode(F.expr(_MOMENT_EXPR)).alias("m"))
             .select("m.i", "m.j", F.col("m.t").cast("decimal(38,0)")
                     .alias("t"))
             .groupBy("i", "j")
             .agg(F.sum("t").alias("s")))


def foreach_batch_pca(batch_df: DataFrame, batch_id: int,
                      store_dir: str) -> None:
    """Fold one micro-batch of (vec_id, embedding) rows into its
    moment-delta partition. Safe to replay with the same batch_id."""
    # Delta bounded at <= 2145 moment rows regardless of batch size —
    # coalesce(1) is the right size policy.
    write_batch_partition(batch_moments(batch_df), batch_id, store_dir,
                          coalesce=1)


def read_moments(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current merged moments: element-wise sum over all batch
    deltas. O(#batches x 2145) rows in, <= 2145 out. A store that
    has only ever seen empty batches has no files yet — that is the
    empty corpus, not an error."""
    from pyspark.errors import AnalysisException
    try:
        deltas = spark.read.parquet(store_dir)
    except AnalysisException:
        return spark.createDataFrame(
            [], "i int, j int, s decimal(38,0)")
    return deltas.groupBy("i", "j").agg(F.sum("s").alias("s"))


def trajectory_from_store(spark: SparkSession, store_dir: str
                          ) -> list[tuple[int, str, str]]:
    """The power-iteration trajectory derived from the merged
    moments in exact driver-side integer arithmetic — equal row for
    row to `power_iteration_top_pc` on the union of all batches.

    Y^T Y is reconstructed from the raw moments by the centering
    identity sum((v-m)(v-m)^T) = G - m c^T - c m^T + n m m^T with
    m = colsum div n (the batch query's exact integer mean)."""
    cells = {(r.i, r.j): int(r.s)
             for r in read_moments(spark, store_dir).collect()}
    n = cells.get((-1, -1), 0)
    if n == 0:
        return []
    c = [cells[(i, -1)] for i in range(KM_DIM)]
    g = [[cells[(min(i, j), max(i, j))] for j in range(KM_DIM)]
         for i in range(KM_DIM)]
    m = [(-1 if x < 0 else 1) * (abs(x) // n) for x in c]
    yty = [[g[i][j] - m[i] * c[j] - m[j] * c[i] + n * m[i] * m[j]
            for j in range(KM_DIM)] for i in range(KM_DIM)]
    w = [PI_DIR_SCALE] * KM_DIM
    rows = []
    for t in range(PI_T):
        s = [sum(yty[i][j] * w[j] for j in range(KM_DIM))
             for i in range(KM_DIM)]
        mx = max(max(abs(x) for x in s), 1)
        w = [(-1 if x < 0 else 1)
             * ((2 * PI_DIR_SCALE * abs(x) + mx) // (2 * mx)) for x in s]
        rows.append((t + 1, ",".join(map(str, w)), str(mx)))
    return rows


def run_pca_stream(stream_vectors: DataFrame, store_dir: str,
                   checkpoint_dir: str):
    """AvailableNow foreachBatch driver for moment maintenance."""
    return (stream_vectors.writeStream
            .foreachBatch(lambda df, bid: foreach_batch_pca(
                df, bid, store_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
