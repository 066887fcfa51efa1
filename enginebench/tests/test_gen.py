"""The input generator is a pure function of the seed."""

from __future__ import annotations

import pyarrow.parquet as pq

import gen


def _files(root):
    return {p.relative_to(root): p.read_bytes()
            for p in sorted(root.rglob("*.parquet"))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _files(gen.generate(7, tmp_path / "a"))
    b = _files(gen.generate(7, tmp_path / "b"))
    assert a and a == b


def test_other_seed_changes_every_seeded_table(tmp_path):
    a = _files(gen.generate(7, tmp_path / "a"))
    b = _files(gen.generate(8, tmp_path / "b"))
    assert a.keys() == b.keys()
    fixed = {f"{t}.parquet" for t in gen.FIXED_TABLES}
    assert [str(k) for k in a if a[k] == b[k]] == sorted(fixed)


def test_stream_batches_cover_the_documents_once(tmp_path):
    out = gen.generate(7, tmp_path)
    docs = pq.read_table(out / "documents.parquet")["doc_id"].to_pylist()
    arrived = [i for name in ["warmup"] + gen.stream_batches(out)
               for i in pq.read_table(out / "stream" / f"{name}.parquet")
               ["doc_id"].to_pylist()]
    assert sorted(arrived) == sorted(docs)
    assert arrived != sorted(arrived)           # out of id order
    evals = pq.read_table(out / "stream" / "eval_docs.parquet")
    assert 0 < evals.num_rows < len(docs)
    assert set(evals["doc_id"].to_pylist()) <= set(docs)


def test_vectors_keep_their_document_ids(tmp_path):
    out = gen.generate(7, tmp_path)
    docs = pq.read_table(out / "documents.parquet")["doc_id"].to_pylist()
    vecs = pq.read_table(out / "embeddings.parquet")["vec_id"].to_pylist()
    assert set(vecs) <= set(docs)


def test_any_seed_generates(tmp_path):
    big = 2**63 + 5
    a = _files(gen.generate(big, tmp_path / "a"))
    assert a == _files(gen.generate(big, tmp_path / "b"))
