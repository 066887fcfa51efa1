"""The similarity-join check catches wrong pairs and lost recall."""

from __future__ import annotations

import pytest

import gen
import oracle

COLS = ("vec_a", "vec_b", "euclidean_dist")


@pytest.fixture(scope="module")
def emb(tmp_path_factory):
    return gen.generate(7, tmp_path_factory.mktemp("gen")) \
        / "embeddings.parquet"


def _rows(pairs):
    return [(a, b, round(d, 6)) for (a, b), d in sorted(pairs.items())]


def test_exact_pairs_pass(emb):
    exact = oracle.exact_pairs(emb)
    assert exact
    assert oracle.check_lsh_pairs(COLS, _rows(exact), emb) is None


def test_empty_or_low_recall_fails(emb):
    rows = _rows(oracle.exact_pairs(emb))
    assert "recall floor" in oracle.check_lsh_pairs(COLS, [], emb)
    kept = rows[:int(len(rows) * oracle.LSH_RECALL_FLOOR) - 1]
    assert "recall floor" in oracle.check_lsh_pairs(COLS, kept, emb)


def test_wrong_pairs_fail(emb):
    exact = oracle.exact_pairs(emb)
    rows = _rows(exact)
    a, b, d = rows[0]
    assert "not ordered" in oracle.check_lsh_pairs(
        COLS, [(b, a, d)] + rows[1:], emb)
    assert "reports" in oracle.check_lsh_pairs(
        COLS, [(a, b, d + 0.01)] + rows[1:], emb)
    ids = sorted({i for pair in exact for i in pair})
    far = next((x, y) for x in ids for y in ids
               if x < y and (x, y) not in exact)
    assert "not within" in oracle.check_lsh_pairs(
        COLS, rows + [(*far, 1.0)], emb)
