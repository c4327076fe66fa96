"""The generator is the benchmark's input contract: a seed names its
inputs exactly."""

import filecmp
import os

import numpy as np
import pyarrow.parquet as pq

import gen

SMALL = gen.ChangelogSpec(n_keys=500, restored_records=1_000, n_batches=3,
                          batch_records=400)
CORPUS = gen.CorpusSpec(n_docs=200, n_vectors=100)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_bytes(a, b):
    fa, fb = _files(a), _files(b)
    return fa == fb and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


def test_changelog_same_seed_same_bytes(tmp_path):
    p1 = gen.write_changelog(str(tmp_path / "a"), 7, SMALL)
    p2 = gen.write_changelog(str(tmp_path / "b"), 7, SMALL)
    gen.write_changelog(str(tmp_path / "c"), 8, SMALL)
    assert p1 == p2
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    assert not _same_bytes(tmp_path / "a", tmp_path / "c")


def test_corpus_same_seed_same_bytes(tmp_path):
    p1 = gen.write_corpus(str(tmp_path / "a"), 7, CORPUS)
    p2 = gen.write_corpus(str(tmp_path / "b"), 7, CORPUS)
    gen.write_corpus(str(tmp_path / "c"), 8, CORPUS)
    assert p1 == p2
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    assert not _same_bytes(tmp_path / "a", tmp_path / "c")


def test_changelog_traffic(tmp_path):
    props = gen.write_changelog(str(tmp_path), 3, SMALL)
    restored, splits = gen.changelog_paths(str(tmp_path))
    assert len(splits) == SMALL.n_batches
    # splits are delivered oldest-mtime first, in generation order
    mtimes = [os.stat(f).st_mtime for f in splits]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    seqs = [pq.read_table(f).column("seq_no").to_pylist() for f in splits]
    # late records: some batch holds a seq_no below the previous batch's max
    assert any(min(b) < max(a) for a, b in zip(seqs, seqs[1:]))
    # every record is delivered exactly once, after the restored ones
    flat = sorted(x for b in seqs for x in b)
    n0 = SMALL.restored_records
    assert flat == list(range(n0 + 1, n0 + 1 + SMALL.n_batches * SMALL.batch_records))
    assert pq.read_table(restored).num_rows == n0
    assert 0.05 < props["remove_share"] < 0.15
    assert 0 < props["late_share"] <= SMALL.late_share


def test_corpus_traffic(tmp_path):
    props = gen.write_corpus(str(tmp_path), 5, gen.CorpusSpec(n_docs=1_000, n_vectors=500))
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pandas()
    assert props["dup_share"] > 0 and props["near_dup_share"] > 0
    assert docs["text"].duplicated().sum() >= props["dup_share"] * len(docs) * 0.9
    assert docs["doc_id"].tolist() == list(range(1_000))
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    # resampled from the pool: every original document is a pool document
    pool = set(pq.read_table(os.path.join(gen.POOL_DIR, "documents.parquet"),
                             columns=["text"]).column(0).to_pylist())
    assert docs["text"].isin(pool).mean() >= 1 - props["near_dup_share"] - 0.01
    emb = pq.read_table(str(tmp_path / "embeddings.parquet"))
    assert emb.num_rows == 500
    vecs = np.array(emb.column("embedding").to_pylist())
    assert vecs.shape == (500, 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1, atol=1e-5)
