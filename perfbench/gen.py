"""Seeded input generator for the benchmark's workloads.

Everything the engine sees in a run is written here, from the seed
and the committed corpus pool in ``data/``: the same seed and
parameters give byte-identical files (the parquet writer's own
metadata included), so a rerun on another checkout replays the same
traffic. Every generator returns the
traffic properties of what it wrote, which the run prints next to its
results.

No Spark here: inputs are built with NumPy and written with PyArrow,
so generating never contends with the engine being measured.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Split files get pinned modification times, one second apart, so the
# file stream source (maxFilesPerTrigger=1, oldest first) reads them
# as one micro-batch each, in generation order.
SPLIT_MTIME_BASE = 1_700_000_000

CHANGELOG_SCHEMA = pa.schema(
    [
        ("seq_no", pa.int64()),
        ("op", pa.string()),
        ("key", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("payload_value", pa.float64()),
        ("payload_props", pa.string()),
        ("content_hash", pa.string()),
    ]
)


@dataclass(frozen=True)
class ChangelogSpec:
    """Shape of one restored table plus its buffered changelog."""

    n_keys: int = 20_000
    zipf_s: float = 1.1          # key popularity exponent
    restored_records: int = 40_000
    n_batches: int = 2
    batch_records: int = 4_000
    remove_share: float = 0.1
    late_share: float = 0.05     # records delivered 1-2 batches after their seq order


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one curation corpus (documents + embeddings)."""

    n_docs: int = 5_000
    n_vectors: int = 2_000
    dup_share: float = 0.05      # exact copies of an earlier document
    near_share: float = 0.05     # one-word edits of an earlier document
    vec_dup_share: float = 0.05  # jittered copies of an earlier vector
    jitter: float = 0.01         # std of the noise added to every vector


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _zipf_keys(rng: np.random.Generator, spec: ChangelogSpec, n: int) -> np.ndarray:
    """n keys drawn Zipf(s) over n_keys ids; popularity rank is a seeded
    permutation of the ids, so hot keys land in arbitrary buckets."""
    ranks = np.arange(1, spec.n_keys + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()
    ids = rng.permutation(spec.n_keys).astype(np.int64) + 1
    return ids[rng.choice(spec.n_keys, size=n, p=p)]


def _ops(rng: np.random.Generator, keys: np.ndarray, remove_share: float,
         live: set) -> list[str]:
    """Op per record in seq order: REMOVE with remove_share, else
    INSERT for a key not live at that point, MODIFY for a live one."""
    removes = rng.random(len(keys)) < remove_share
    out = []
    for k, rm in zip(keys.tolist(), removes.tolist()):
        if rm:
            out.append("REMOVE")
            live.discard(k)
        else:
            out.append("MODIFY" if k in live else "INSERT")
            live.add(k)
    return out


def _changelog_table(rng: np.random.Generator, seq: np.ndarray, keys: np.ndarray,
                     ops: list[str]) -> pa.Table:
    n = len(seq)
    values = np.round(rng.uniform(0.0, 1000.0, n), 2)
    props = [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n)]
    ts = (SPLIT_MTIME_BASE * 1_000_000 + seq * 1_000).astype("datetime64[us]")
    hashes = [
        hashlib.md5(f"{s}|{o}|{k}|{v:.2f}|{p}".encode()).hexdigest()
        for s, o, k, v, p in zip(seq.tolist(), ops, keys.tolist(), values.tolist(), props)
    ]
    return pa.table(
        {
            "seq_no": pa.array(seq, pa.int64()),
            "op": pa.array(ops, pa.string()),
            "key": pa.array(keys, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "payload_value": pa.array(values, pa.float64()),
            "payload_props": pa.array(props, pa.string()),
            "content_hash": pa.array(hashes, pa.string()),
        },
        schema=CHANGELOG_SCHEMA,
    )


def _late_order(rng: np.random.Generator, spec: ChangelogSpec) -> tuple[np.ndarray, int]:
    """Delivery order of the buffered records as batch-major indices into
    seq order. A late_share of the records of every batch but the last
    swap places with a random record of the batch 1 or 2 later, so they
    arrive after records with higher seq_no (and the partner arrives
    early). Returns (order, number of records moved)."""
    b = spec.batch_records
    order = np.arange(spec.n_batches * b)
    moved = 0
    for i in range(spec.n_batches - 1):
        n_late = int(round(spec.late_share * b))
        src = rng.choice(b, size=n_late, replace=False) + i * b
        hop = rng.integers(1, 3, size=n_late)
        dst_batch = np.minimum(i + hop, spec.n_batches - 1)
        dst = rng.integers(0, b, size=n_late) + dst_batch * b
        for s, d in zip(src.tolist(), dst.tolist()):
            order[s], order[d] = order[d], order[s]
            moved += 1
    return order, moved


def write_changelog(root: str, seed: int, spec: ChangelogSpec) -> dict:
    """Restored-table changelog plus the buffered changelog as pinned splits.

    Layout under ``root``:
      restored.parquet        the changelog up to the restore point
      splits/part-NNNNN.parquet  one file per micro-batch, mtime-pinned

    The buffered seq_nos all follow the restored ones, so the final
    table is the per-key max-seq fold of both, whatever the delivery
    order. Returns the traffic properties written."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "splits"), exist_ok=True)
    live: set = set()

    n0 = spec.restored_records
    seq0 = np.arange(1, n0 + 1, dtype=np.int64)
    keys0 = _zipf_keys(rng, spec, n0)
    _write(_changelog_table(rng, seq0, keys0, _ops(rng, keys0, spec.remove_share, live)),
           os.path.join(root, "restored.parquet"))

    n1 = spec.n_batches * spec.batch_records
    seq1 = np.arange(n0 + 1, n0 + n1 + 1, dtype=np.int64)
    keys1 = _zipf_keys(rng, spec, n1)
    buffered = _changelog_table(rng, seq1, keys1, _ops(rng, keys1, spec.remove_share, live))
    order, moved = _late_order(rng, spec)
    for i in range(spec.n_batches):
        path = os.path.join(root, "splits", f"part-{i:05d}.parquet")
        idx = order[i * spec.batch_records:(i + 1) * spec.batch_records]
        _write(buffered.take(pa.array(idx)), path)
        os.utime(path, (SPLIT_MTIME_BASE + i, SPLIT_MTIME_BASE + i))
    ops = np.array(buffered.column("op").to_pylist())
    return {
        "keys": spec.n_keys,
        "zipf_s": spec.zipf_s,
        "distinct_keys_touched": int(len(np.unique(keys1))),
        "restored_records": n0,
        "batches": spec.n_batches,
        "batch_records": spec.batch_records,
        "remove_share": round(float((ops == "REMOVE").mean()), 4),
        "late_share": round(moved / n1, 4),
    }


def changelog_paths(root: str) -> tuple[str, list[str]]:
    """(restored file, split files in delivery order) under ``root``."""
    split_dir = os.path.join(root, "splits")
    splits = sorted(os.path.join(split_dir, f) for f in os.listdir(split_dir))
    return os.path.join(root, "restored.parquet"), splits


# -- curation corpus ---------------------------------------------------------

# The corpus pool: the sf0.1 ``documents`` and ``embeddings`` fixture
# tables (5,000 documents, 2,000 unit 64-d vectors), kept next to the
# benchmark so a run reads nothing outside its checkout.
POOL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
POOL = "sf0.1"


def write_corpus(root: str, seed: int, spec: CorpusSpec) -> dict:
    """``documents.parquet`` and ``embeddings.parquet`` under ``root``,
    resampled from the pool: n_docs documents and n_vectors vectors in
    a seeded order, renumbered from 0. On top, a dup_share of the
    documents become exact copies and a near_share one-word edits of an
    earlier one, every vector is jittered and a vec_dup_share become
    jittered copies of an earlier vector. Returns the traffic
    properties written."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    pool_docs = pq.read_table(os.path.join(POOL_DIR, "documents.parquet"))
    pool_emb = pq.read_table(os.path.join(POOL_DIR, "embeddings.parquet"))
    if spec.n_docs > pool_docs.num_rows or spec.n_vectors > pool_emb.num_rows:
        raise ValueError(f"corpus larger than the {POOL} pool")

    picked = pool_docs.take(pa.array(rng.permutation(pool_docs.num_rows)[:spec.n_docs]))
    words = [t.split() for t in picked.column("text").to_pylist()]
    vocab = sorted({w for ws in words for w in ws})
    kind = rng.random(spec.n_docs)
    n_dup = n_near = 0
    for i in range(1, spec.n_docs):
        if kind[i] < spec.dup_share:
            words[i] = list(words[rng.integers(0, i)])
            n_dup += 1
        elif kind[i] < spec.dup_share + spec.near_share:
            w = list(words[rng.integers(0, i)])
            w[rng.integers(0, len(w))] = vocab[rng.integers(0, len(vocab))]
            words[i] = w
            n_near += 1
    texts = [" ".join(w) for w in words]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": picked.column("lang"),
            "source": picked.column("source"),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(docs, os.path.join(root, "documents.parquet"))

    rows = rng.permutation(pool_emb.num_rows)[:spec.n_vectors]
    picked = pool_emb.take(pa.array(rows))
    dim = len(picked.column("embedding")[0])
    vecs = np.asarray(picked.column("embedding").combine_chunks().flatten(),
                      dtype=np.float64).reshape(-1, dim)
    labels = picked.column("label").to_numpy().copy()
    vecs = vecs + rng.normal(scale=spec.jitter, size=vecs.shape)
    copies = rng.random(spec.n_vectors) < spec.vec_dup_share
    copies[0] = False
    n_vdup = 0
    for i in np.flatnonzero(copies).tolist():
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=spec.jitter, size=dim)
        labels[i] = labels[j]
        n_vdup += 1
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(spec.n_vectors, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    _write(emb, os.path.join(root, "embeddings.parquet"))
    return {
        "pool": POOL,
        "docs": spec.n_docs,
        "vectors": spec.n_vectors,
        "dup_share": round(n_dup / spec.n_docs, 4),
        "near_dup_share": round(n_near / spec.n_docs, 4),
        "vec_dup_share": round(n_vdup / spec.n_vectors, 4),
        "jitter": spec.jitter,
    }
