"""LSH index tests: determinism, bucket-join correctness, fallback,
recall vs exact ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.knn import knn_join_vectorized
from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH, lsh_recall_at_k


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .cache()
    )


def test_signatures_deterministic(emb):
    lsh1 = RandomHyperplaneLSH(dim=64, seed=7)
    lsh2 = RandomHyperplaneLSH(dim=64, seed=7)
    rows = emb.limit(5).collect()
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    assert lsh1.signatures_np(mat) == lsh2.signatures_np(mat)
    lsh3 = RandomHyperplaneLSH(dim=64, seed=8)
    assert lsh1.signatures_np(mat) != lsh3.signatures_np(mat)


def test_spark_signatures_match_numpy(emb):
    lsh = RandomHyperplaneLSH(dim=64)
    sdf = lsh.with_signatures(emb.select("vec_id", "embedding")).collect()
    rows = {r["vec_id"]: r["sigs"] for r in sdf}
    sample = emb.limit(20).collect()
    mat = np.array([list(r["embedding"]) for r in sample], dtype=np.float64)
    want = lsh.signatures_np(mat)
    for r, w in zip(sample, want):
        assert rows[r["vec_id"]] == w


def test_build_index_shape(emb):
    lsh = RandomHyperplaneLSH(dim=64, num_tables=4, hash_size=6)
    idx = lsh.build_index(emb)
    n = emb.count()
    assert idx.count() == n * 4
    row = idx.head()
    assert len(row["sig"]) == 6 and set(row["sig"]) <= {"0", "1"}


def test_search_self_query_and_rank(emb, queries):
    lsh = RandomHyperplaneLSH(dim=64)
    res = lsh.search(emb, queries, k=5, metric="cosine").collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert len(rows) <= 5
        # self is its own nearest neighbor under cosine
        assert rows[0]["vec_id"] == qid and rows[0]["dist"] == pytest.approx(0.0, abs=1e-9)
        dists = [r["dist"] for r in rows]
        assert dists == sorted(dists)


def test_exact_fallback_under_k(spark, emb):
    """A query with almost-empty buckets must fall back to exact scan
    and still return k results (reference lsh.py:199-202)."""
    lsh = RandomHyperplaneLSH(dim=64, num_tables=1, hash_size=16, seed=3)
    # 16-bit single table over 500 vecs => ~every vector alone in its
    # bucket => nearly all queries have < k candidates.
    queries = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    res = lsh.search(emb, queries, k=10, metric="euclidean").collect()
    assert len(res) == 10  # exact fallback delivered full k
    exact = knn_join_vectorized(emb, queries, k=10, metric="euclidean").collect()
    assert {r["vec_id"] for r in res} == {r["vec_id"] for r in exact}


def test_no_fallback_returns_partial(emb):
    lsh = RandomHyperplaneLSH(dim=64, num_tables=1, hash_size=16, seed=3)
    queries = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    res = lsh.search(emb, queries, k=10, metric="euclidean", exact_fallback=False).collect()
    assert 1 <= len(res) < 10


def test_recall_at_k(emb, queries):
    """Recall depends on hyperparameters AND data geometry: this corpus's
    true neighbors sit at cosine sim ~0.3, where the reference's default
    8-bit x 10-table scheme collides rarely (measured ~0.29 recall).
    4-bit x 20-table buckets are wider: measured 0.95 here (deterministic
    — seeded planes).  Assert both regimes to pin the tradeoff."""
    wide = lsh_recall_at_k(emb, queries, k=10, metric="cosine",
                           lsh=RandomHyperplaneLSH(dim=64, num_tables=20, hash_size=4))
    assert wide >= 0.9
    ref_hparams = lsh_recall_at_k(emb, queries, k=10, metric="cosine",
                                  lsh=RandomHyperplaneLSH(dim=64))
    assert ref_hparams >= 0.2


def test_persisted_index_partition_prunes(spark, emb, tmp_path):
    """The production index layout: signature table written partitioned
    by (table_idx, sig).  A candidate lookup filtering both keys must
    prune at planning time (PartitionFilters), scanning only the
    matching bucket directory — this is what makes LSH candidate
    retrieval O(bucket) instead of O(index) at 100 TB."""
    lsh = RandomHyperplaneLSH(dim=64, num_tables=2, hash_size=3, seed=9)
    path = str(tmp_path / "sig_index")
    lsh.build_index(emb).write.partitionBy("table_idx", "sig").parquet(path)
    idx = spark.read.parquet(path)
    some = idx.head()
    lookup = idx.filter(
        (F.col("table_idx") == some["table_idx"]) & (F.col("sig") == some["sig"])
    )
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("table_idx" in ln and "sig" in ln for ln in pf)
    assert lookup.count() >= 1


def test_md5_plane_scheme_portable_and_recall(emb, queries):
    """The md5-derived plane scheme (the DuckDB-oracle-checkable one)
    must match its documented derivation exactly and search as well as
    the seeded-Gaussian scheme at the same hparams."""
    import hashlib

    lsh = RandomHyperplaneLSH(dim=64, num_tables=20, hash_size=4, plane_scheme="md5")
    # spot-check the derivation contract: (md5 % 2001 - 1000) / 1000
    for j, d in [(0, 0), (7, 63), (79, 31)]:
        h = int(hashlib.md5(f"lshplane|{j}|{d}".encode()).hexdigest()[:15], 16)
        assert lsh._planes[j, d] == (h % 2001 - 1000) / 1000.0
    recall = lsh_recall_at_k(emb, queries, k=10, metric="cosine", lsh=lsh)
    assert recall >= 0.9


def test_distributed_fallback_split_matches_per_query(emb):
    """Mixed batch: some queries with rich buckets, some with starved
    buckets (6-bit single table: bucket sizes 6-12 around k=7) — every
    query gets exactly k rows; a starved query (< k candidates, counted
    here from ``signatures_np``) equals the exact scan id-for-id, and a
    full query's ids all come from its own bucket."""
    lsh = RandomHyperplaneLSH(dim=64, num_tables=1, hash_size=6, seed=3)
    queries = (
        emb.filter(F.col("vec_id") < 6)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    rows = emb.select("vec_id", "embedding").collect()
    sigs = lsh.signatures_np(np.array([r["embedding"] for r in rows], dtype=np.float64))
    sig_of = {r["vec_id"]: s for r, s in zip(rows, sigs)}
    bucket = {
        q: {i for i, s in sig_of.items() if s == sig_of[q]} for q in range(6)
    }
    starved = {q for q, c in bucket.items() if len(c) < 7}
    assert starved and len(starved) < 6  # the batch really is mixed

    res = lsh.search(emb, queries, k=7, metric="euclidean").collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    exact = knn_join_vectorized(emb, queries, k=7, metric="euclidean").collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(by_q) == set(exact_by_q) == set(range(6))
    for qid, ids in by_q.items():
        assert len(ids) == 7
        if qid in starved:
            assert ids == exact_by_q[qid]
        else:
            assert ids <= bucket[qid]


def test_multiprobe_recall_monotone_and_candidates_superset(emb, queries):
    """Radius-1 multi-probe candidates strictly contain the exact-bucket
    candidates (same planes), so recall@k never drops; with starved
    8-bit buckets the extra probes must raise candidate counts."""
    lsh = RandomHyperplaneLSH(dim=64, num_tables=10, hash_size=8, seed=7)
    base = lsh_recall_at_k(emb, queries, k=10, metric="cosine",
                           lsh=lsh, exact_fallback=False)
    probed = lsh_recall_at_k(emb, queries, k=10, metric="cosine",
                             lsh=lsh, exact_fallback=False, probe_radius=1)
    assert probed >= base
    # candidate sets: superset per query (no fallback, no k cut)
    kw = dict(k=10**6, metric="cosine", exact_fallback=False)
    a = {(r["query_id"], r["vec_id"])
         for r in lsh.search(emb, queries, **kw).collect()}
    b = {(r["query_id"], r["vec_id"])
         for r in lsh.search(emb, queries, probe_radius=1, **kw).collect()}
    assert a <= b and len(b) > len(a)


def test_lsh_index_lifecycle_append_delete_compact(spark, emb, tmp_path):
    """Written-artifact maintenance (r5): base build + append must be
    row-identical to a from-scratch build over the union (signatures
    are pure functions of vector and planes); tombstone delete removes
    exactly the deleted ids from reads while leaving files untouched;
    compaction folds tombstones in content-identically and drops the
    tombstone table."""
    from inmem_vector_db_spark.operators.lsh import (
        append_lsh_index,
        compact_lsh_index,
        delete_from_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )

    lsh = RandomHyperplaneLSH(dim=64, num_tables=4, hash_size=4, seed=11)
    path = str(tmp_path / "lsh_idx")
    write_lsh_index(lsh, emb.filter(F.col("vec_id") < 200), path)
    append_lsh_index(lsh, emb.filter(F.col("vec_id") >= 200), path)
    def norm(df):
        # parquet reads put the partition column last and infer it int
        return df.select(
            "vec_id", F.col("table_idx").cast("int").alias("table_idx"), "sig"
        )

    combined = norm(read_lsh_index(spark, path))
    scratch = norm(lsh.build_index(emb))
    assert combined.exceptAll(scratch).isEmpty()
    assert scratch.exceptAll(combined).isEmpty()

    delete_from_lsh_index(spark, path, [3, 9])
    after = norm(read_lsh_index(spark, path))
    want = scratch.filter(~F.col("vec_id").isin([3, 9]))
    assert after.exceptAll(want).isEmpty() and want.exceptAll(after).isEmpty()
    # physical signature files untouched by the O(1) delete
    assert spark.read.parquet(f"{path}/signatures").count() == scratch.count()

    before_rows = set(map(tuple, after.collect()))
    assert compact_lsh_index(spark, path) == 2
    folded = norm(read_lsh_index(spark, path))
    assert set(map(tuple, folded.collect())) == before_rows
    assert spark.read.parquet(f"{path}/signatures").count() == len(before_rows)
    # idempotent: nothing left to fold
    assert compact_lsh_index(spark, path) == 0


def test_artifact_served_search_has_no_python_stage(spark, emb, tmp_path):
    """Probe-only pin (r5): when search reads a WRITTEN signature
    index, the physical plan must contain no Python stage at all — the
    expensive corpus signature pass (mapInPandas) belongs to the build
    job, query signatures are computed driver-side, and candidate join
    + exact re-rank are pure JVM.  Guards against a regression that
    silently reintroduces per-search signature recompute."""
    from inmem_vector_db_spark.operators.lsh import (
        read_lsh_index,
        write_lsh_index,
    )

    lsh = RandomHyperplaneLSH(dim=64, num_tables=4, hash_size=4, seed=11)
    path = str(tmp_path / "idx")
    write_lsh_index(lsh, emb, path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = lsh.search(
        emb, queries, k=5, metric="cosine", index=read_lsh_index(spark, path)
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "MapInPandas", "MapInArrow", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, f"{node} in probe plan"
    assert res.count() == 15


def test_lifecycle_with_custom_id_col(spark, emb, tmp_path):
    """The whole write/delete/read/compact contract must work for a
    non-default id column (advisor r5: delete hardcoded the tombstone
    schema to vec_id, so custom-id tombstones could never resolve)."""
    from inmem_vector_db_spark.operators.lsh import (
        compact_lsh_index,
        delete_from_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )

    lsh = RandomHyperplaneLSH(dim=64, num_tables=4, hash_size=4, seed=11)
    corpus = emb.select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).filter(F.col("doc_id") < 100)
    path = str(tmp_path / "lsh_custom")
    write_lsh_index(lsh, corpus, path, id_col="doc_id")
    delete_from_lsh_index(spark, path, [2, 5], id_col="doc_id")
    kept = read_lsh_index(spark, path, id_col="doc_id")
    assert kept.filter(F.col("doc_id").isin([2, 5])).isEmpty()
    assert kept.select("doc_id").distinct().count() == 98
    assert compact_lsh_index(spark, path, id_col="doc_id") == 2
    folded = read_lsh_index(spark, path, id_col="doc_id")
    assert folded.select("doc_id").distinct().count() == 98
