"""Output checks, run outside the timed intervals: each query's
registered DuckDB oracle over the same generated parquet files, and a
distance property for the approximate similarity join, which has no
oracle."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from tools.check_correctness import duck_connection, normalize_cell

# The distance threshold mllib_lsh_similar_pairs passes to the join.
LSH_THRESHOLD = 1.2
# Least share of the exact pairs within LSH_THRESHOLD that the join
# must return: the MLlib LSH recall floor tests/test_ann.py pins.
LSH_RECALL_FLOOR = 0.6


def canonical(columns, rows) -> list[tuple]:
    """Rows as tuples over the name-sorted columns, in a fixed order,
    so two engines' answers compare with ``==``."""
    idx = [list(columns).index(c) for c in sorted(columns)]
    out = [tuple(normalize_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda row: tuple((x is None, str(type(x)), str(x))
                                   for x in row))
    return [tuple(sorted(columns))] + out


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, data: Path):
        self._con = duck_connection(str(data))
        self._answers: dict[str, list[tuple]] = {}

    def expected(self, sql: str) -> list[tuple]:
        if sql not in self._answers:
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            self._answers[sql] = canonical(cols, res.fetchall())
        return self._answers[sql]

    def close(self) -> None:
        self._con.close()


def exact_pairs(emb_path: Path) -> dict[tuple[int, int], float]:
    """Every pair (a < b) of vectors within LSH_THRESHOLD, with its
    distance, by brute force."""
    t = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = np.asarray(t["vec_id"].to_pylist())
    vecs = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    sq = (vecs ** 2).sum(axis=1)
    dist = np.sqrt(np.maximum(sq[:, None] + sq[None, :]
                              - 2 * vecs @ vecs.T, 0.0))
    out = {}
    for i, j in zip(*np.nonzero(dist <= LSH_THRESHOLD + 1e-6)):
        if ids[i] < ids[j]:
            d = float(np.linalg.norm(vecs[i] - vecs[j]))
            if d <= LSH_THRESHOLD:
                out[(int(ids[i]), int(ids[j]))] = d
    return out


def check_lsh_pairs(columns, rows, emb_path: Path) -> str | None:
    """The join returns exact pairs only, each ordered, within
    LSH_THRESHOLD and with its true distance (rounded to 6 places),
    and at least LSH_RECALL_FLOOR of all of them."""
    exact = exact_pairs(emb_path)
    ia, ib, idist = (list(columns).index(c)
                     for c in ("vec_a", "vec_b", "euclidean_dist"))
    for r in rows:
        a, b = r[ia], r[ib]
        if a >= b:
            return f"pair ({a}, {b}) is not ordered"
        if (a, b) not in exact:
            return f"pair ({a}, {b}) is not within {LSH_THRESHOLD}"
        if abs(exact[(a, b)] - r[idist]) > 1e-6:
            return f"pair ({a}, {b}) reports {r[idist]}, " \
                   f"true {exact[(a, b)]:.6f}"
    found = len({(r[ia], r[ib]) for r in rows})
    if not exact or found < LSH_RECALL_FLOOR * len(exact):
        return f"found {found} of the {len(exact)} pairs within " \
               f"{LSH_THRESHOLD}, below the recall floor {LSH_RECALL_FLOOR}"
    return None
