"""Correctness checks on the answers the package returns.

Each check recomputes the answer (or the property it must have)
independently with numpy or plain Python and returns a list of error
strings; an empty list means the answer is correct.  The benchmark counts
a call with any error as a failed operation.
"""

from __future__ import annotations

import hashlib

import numpy as np

METRICS = ("euclidean", "cosine", "dot_product", "manhattan")


def distances(metric: str, q: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """Float64 distances from ``q`` to every row of ``mat``, lower = closer
    (cosine distance is 1.0 against a zero vector; dot product is negated)."""
    q = np.asarray(q, dtype=np.float64)
    m = np.asarray(mat, dtype=np.float64)
    if metric == "euclidean":
        return np.sqrt(((m - q) ** 2).sum(axis=1))
    if metric == "manhattan":
        return np.abs(m - q).sum(axis=1)
    if metric == "dot_product":
        return -(m @ q)
    if metric == "cosine":
        denom = np.linalg.norm(m, axis=1) * np.linalg.norm(q)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom == 0.0, 1.0, 1.0 - (m @ q) / denom)
    raise ValueError(f"unknown metric {metric!r}")


def exact_topk(metric: str, q, mat: np.ndarray, ids: np.ndarray, k: int):
    """Brute-force top-k as (ids, dists), ties broken by the lower id."""
    d = distances(metric, q, mat)
    if len(d) > k:  # only rows within the k-th distance can make the cut
        cand = np.nonzero(d <= np.partition(d, k - 1)[k - 1])[0]
    else:
        cand = np.arange(len(d))
    order = cand[np.lexsort((ids[cand], d[cand]))][:k]
    return ids[order], d[order]


def _close(a, b) -> bool:
    return bool(np.allclose(a, b, rtol=1e-7, atol=1e-9))


def check_ranked(got, metric: str, q, ids: np.ndarray, mat: np.ndarray, k: int,
                 exact: bool, pos: dict | None = None, want=None) -> list[str]:
    """``got``: (id, dist) pairs in returned order, searched over the rows
    ``mat`` with ids ``ids``.  Well-formed means k rows, unique ids present
    in the corpus, ascending distances that equal a recomputation.
    ``exact`` also requires the distances to be the true top-k distances
    ``want`` (computed here when not given); ids may differ only between
    tied rows.  ``pos`` maps id -> row of ``mat`` when the caller has it."""
    errs = []
    if pos is None:
        pos = dict(zip(ids.tolist(), range(len(ids))))
    if len(got) != min(k, len(ids)):
        errs.append(f"{len(got)} rows, expected {min(k, len(ids))}")
    got_ids = [g[0] for g in got]
    if len(set(got_ids)) != len(got_ids):
        errs.append("duplicate ids")
    missing = [i for i in got_ids if i not in pos]
    if missing:
        return errs + [f"ids not in the corpus: {missing[:3]}"]
    dist = np.array([g[1] for g in got], dtype=np.float64)
    if np.any(np.diff(dist) < 0):
        errs.append("distances not ascending")
    if got_ids:
        recomputed = distances(metric, q, mat[[pos[i] for i in got_ids]])
        if not _close(dist, recomputed):
            errs.append("distances differ from recomputation")
    if exact:
        if want is None:
            _, want = exact_topk(metric, q, mat, ids, k)
        if len(want) == len(dist) and not _close(dist, want):
            errs.append("not the exact top-k distances")
    return errs


def recall(got_ids, exact_ids) -> float:
    return len(set(got_ids) & set(exact_ids)) / max(1, len(exact_ids))


def check_exact_dedup(rows, texts: list[str]) -> list[str]:
    """``rows``: (doc_id, text) kept by exact dedup; ``texts[i]`` is the
    text of doc i.  Exactly the lowest id of each distinct text survives."""
    want: dict[str, int] = {}
    for i, t in enumerate(texts):
        want.setdefault(t, i)
    got = sorted(r[0] for r in rows)
    if got != sorted(want.values()):
        return [f"kept {len(got)} documents, expected {len(want)}"]
    return [f"doc {r[0]} text changed" for r in rows if texts[r[0]] != r[1]][:3]


def hash_embedding(text: str, dim: int) -> np.ndarray:
    """The package's documented mock embedding: a constant vector of
    ``md5_le64(text) % 10000 / 10000`` as float32."""
    h = int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "little")
    return np.full(dim, np.float32((h % 10000) / 10000.0), dtype=np.float32)


def check_store_search(rows, live: dict, query: str, k: int, metric: str,
                       tags: list[str], dim: int) -> list[str]:
    """``rows``: (chunk_id, score, rank, tags) in returned order; ``live``:
    chunk_id -> (text, tags) for every chunk the op log says exists.  The
    scores must be the k best among live chunks carrying every filter tag."""
    errs = []
    eligible = [c for c, (_, t) in live.items() if set(tags) <= set(t)]
    if len(rows) != min(k, len(eligible)):
        errs.append(f"{len(rows)} rows, expected {min(k, len(eligible))}")
    dead = [r[0] for r in rows if r[0] not in live]
    if dead:
        return errs + [f"deleted or unknown chunk ids returned: {dead[:3]}"]
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)):
        errs.append("ranks are not 1..n")
    if any(not set(tags) <= set(r[3]) for r in rows):
        errs.append("a row misses a filter tag")
    q = hash_embedding(query, dim)
    score = np.array([r[1] for r in rows], dtype=np.float64)
    mine = np.array([distances(metric, q, hash_embedding(live[r[0]][0], dim)[None, :])[0]
                     for r in rows])
    if len(rows) and not _close(score, mine):
        errs.append("scores differ from recomputation")
    if np.any(np.diff(score) < 0):
        errs.append("scores not ascending")
    if eligible:
        mat = np.stack([hash_embedding(live[c][0], dim) for c in eligible])
        want = np.sort(distances(metric, q, mat))[: len(rows)]
        if len(want) == len(score) and not _close(np.sort(score), want):
            errs.append("not the best k scores")
    return errs
