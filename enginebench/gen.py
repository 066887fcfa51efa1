"""Seeded benchmark inputs, derived from the small base tables in
``enginebench/base/`` by shape-preserving transforms.

One seed always yields byte-identical files; another seed yields
different files with the same shape:

The transforms are those of ``tools/gen_scale_testdata.py``, with a
seeded offset, shuffle and rotation in place of its per-copy ones.

- Relational tables (customer, supplier, part, orders, lineitem,
  events) are replicated ``FACTOR`` times. Every copy shifts its key
  columns by ``(seed offset + copy) * domain base``, where the base is
  one more than the largest key of that domain, so foreign keys stay
  valid inside a copy and never collide across copies. region and
  nation stay fixed, as dimensions do.
- documents and embeddings keep their row count. doc_id and vec_id
  shift by the same seeded offset (the streaming pipeline joins
  vectors to documents by id). Half of the documents, chosen by a hash
  of (seed, text), get their words shuffled with a permutation seeded
  by the same hash, so exact duplicates stay duplicates while some
  near-duplicate structure changes with the seed. The embeddings get a
  seeded random orthogonal rotation, which keeps every pair distance.
  Row order is a seeded permutation.
- ``stream/`` holds the micro-batches for the streaming workload:
  the documents in a seeded (out-of-id-order) arrival order, the first
  ``WARMUP_DOCS`` as an untimed ``warmup`` batch and the rest cut into
  batches of ``BATCH_DOCS``, plus ``eval_docs`` (a seeded sample the
  decontamination bloom store is trained on).

Usage: python3 enginebench/gen.py SEED OUT_DIR
"""

from __future__ import annotations

import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from tools.gen_scale_testdata import (  # noqa: E402
    FIXED_TABLES, KEY_COLS, _key_bases, _perturb_embeddings, _shuffle_words)

BASE = Path(__file__).resolve().parent / "base"
FACTOR = 10
BATCH_DOCS = 100
WARMUP_DOCS = 20
EVAL_SHARE = 0.06
# _perturb_embeddings seeds numpy's legacy generator with
# 1_000_003 * (copy + 1), which must stay below 2**32; the rotation is
# one of this many, drawn from the seed, so that every seed works.
ROTATIONS = (2**32 - 1) // 1_000_003
# Tables replicated with shifted keys. documents and embeddings keep
# their rows and shift their ids by one offset instead (see generate).
REPLICATED = {t: cols for t, cols in KEY_COLS.items()
              if t not in ("documents", "embeddings")}


def _read(table: str) -> pa.Table:
    return pq.read_table(BASE / f"{table}.parquet")


def _write(t: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(t, path)


def _shift(t: pa.Table, col: str, by: int) -> pa.Table:
    typ = t.schema.field(col).type
    return t.set_column(t.schema.get_field_index(col), col,
                        pc.add(t[col], pa.scalar(by, type=typ)))


def _shuffle_text(text: str, seed: int) -> str:
    h = zlib.crc32(f"{seed}|{text}".encode())
    return text if h & 1 else _shuffle_words(text, h)


def _documents(seed: int, doc_offset: int,
               order: np.ndarray) -> pa.Table:
    t = _shift(_read("documents"), "doc_id", doc_offset)
    texts = [None if x is None else _shuffle_text(x, seed)
             for x in t["text"].to_pylist()]
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(texts, pa.string()))
    return t.take(pa.array(order))


def _embeddings(rotation: int, doc_offset: int,
                order: np.ndarray) -> pa.Table:
    t = _shift(_read("embeddings"), "vec_id", doc_offset)
    return _perturb_embeddings(t, rotation).take(pa.array(order))


def generate(seed: int, out: Path) -> Path:
    """Write every table for ``seed`` under ``out`` (one
    ``{table}.parquet`` each, the layout the engine's loaders read)
    and the streaming micro-batches under ``out/stream``."""
    rng = np.random.default_rng(seed)
    key_offset = int(rng.integers(1, 100))
    rotation = int(rng.integers(0, ROTATIONS))
    bases = _key_bases(str(BASE))
    for table in FIXED_TABLES:
        _write(_read(table), out / f"{table}.parquet")
    for table, cols in REPLICATED.items():
        src = _read(table)
        copies = []
        for i in range(FACTOR):
            c = src
            for col, domain in cols.items():
                c = _shift(c, col, (key_offset + i) * bases[domain])
            copies.append(c)
        _write(pa.concat_tables(copies), out / f"{table}.parquet")

    n_docs = _read("documents").num_rows
    doc_offset = key_offset * n_docs
    docs = _documents(seed, doc_offset, rng.permutation(n_docs))
    _write(docs, out / "documents.parquet")
    n_vecs = _read("embeddings").num_rows
    _write(_embeddings(rotation, doc_offset, rng.permutation(n_vecs)),
           out / "embeddings.parquet")

    arrival = docs.take(pa.array(rng.permutation(n_docs)))
    _write(arrival.slice(0, WARMUP_DOCS), out / "stream" / "warmup.parquet")
    for b, start in enumerate(range(WARMUP_DOCS, n_docs, BATCH_DOCS)):
        _write(arrival.slice(start, BATCH_DOCS),
               out / "stream" / f"batch_{b:03d}.parquet")
    eval_rows = np.flatnonzero(rng.random(n_docs) < EVAL_SHARE)
    _write(docs.take(pa.array(eval_rows)), out / "stream" / "eval_docs.parquet")
    return out


def stream_batches(data: Path) -> list[str]:
    """Micro-batch table names under ``data/stream``, in arrival order."""
    return sorted(p.stem for p in (data / "stream").glob("batch_*.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(generate(int(sys.argv[1]), Path(sys.argv[2])))
