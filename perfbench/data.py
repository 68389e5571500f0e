"""Seeded input generation.  Everything the package sees is made here
from the run's seed; the package receives only these generated inputs.

Vectors are 64-dim float32 drawn around seeded Gaussian cluster centres;
queries sit near corpus points so approximate search has neighbours to
find.  Documents are word sequences over a fixed vocabulary with planted
exact copies, which exact dedup must drop, and planted near-duplicates,
which it must keep.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
TAGS = ("red", "green", "blue")
_VOCAB = [f"w{i:04d}" for i in range(4000)]


def vectors(rng: np.random.Generator, n: int, centres: np.ndarray) -> np.ndarray:
    """``n`` float32 vectors around randomly chosen ``centres``."""
    pick = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, centres.shape[1]), dtype=np.float32)
    return (centres[pick] + noise).astype(np.float32)


def centres(rng: np.random.Generator, n_clusters: int = 48) -> np.ndarray:
    return (rng.standard_normal((n_clusters, DIM), dtype=np.float32) * 4.0).astype(
        np.float32
    )


def queries(rng: np.random.Generator, corpus: np.ndarray, n: int) -> np.ndarray:
    """Queries near (not on) corpus points, as float64 like a client sends."""
    base = corpus[rng.choice(len(corpus), n, replace=False)].astype(np.float64)
    return base + 0.3 * rng.standard_normal(base.shape)


def documents(rng: np.random.Generator, n: int, words: int = 60) -> list[str]:
    """``n`` texts.  For every ``i % 10 == 0`` text ``i+1`` is a
    near-duplicate of text ``i`` (three words replaced, Jaccard of
    3-shingles ~0.7), and for every ``i % 10 == 5`` text ``i+1`` is an
    exact copy of text ``i``."""
    out = [" ".join(rng.choice(_VOCAB, words)) for _ in range(n)]
    for i in range(0, n - 1, 10):
        toks = out[i].split(" ")
        for pos in rng.choice(words, 3, replace=False):
            toks[pos] = "dup" + toks[pos]
        out[i + 1] = " ".join(toks)
    for i in range(5, n - 1, 10):
        out[i + 1] = out[i]
    return out


def tags_for(i: int) -> list[str]:
    """Tag sets cycle so a one-tag filter keeps about two thirds of chunks."""
    return [[TAGS[0]], [TAGS[1]], [TAGS[0], TAGS[1]], [TAGS[2], TAGS[0]]][i % 4]


def write_vector_file(path: str, ids: np.ndarray, mat: np.ndarray) -> None:
    """One parquet file of ``(vec_id bigint, embedding array<float>)``."""
    offsets = pa.array(np.arange(0, (len(ids) + 1) * DIM, DIM, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(np.ascontiguousarray(mat).ravel()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray, files: int) -> None:
    """A parquet dataset directory holding the vectors in ``files`` files."""
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(ids)), files)):
        write_vector_file(os.path.join(path, f"part-{f:03d}.parquet"), ids[part], mat[part])


def write_documents(path: str, texts: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(np.arange(len(texts)), pa.int64()), "text": texts}
    )
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
