"""The workloads.  Each is one process, one closed-loop client (every
call waits for the previous one) and one Spark session at local[2].

* ``serve``: read-only single-query search.  Per-request fixed cost
  (Catalyst, py4j, job scheduling) dominates; batching or plan-cost
  changes show here, kernel or parallelism changes should not.
* ``churn``: writes beside reads on one store and one IVF index, plus a
  streaming micro-batch per new file.  Shows cost moved from writes onto
  later reads, and caches that writes invalidate.

Both first build their store and index with the same ingest-and-build
pipeline (``pipeline``), repeated ``reps`` times; the last build serves
the measured window.

The measured window is a fixed amount of work, set by ``seconds``: whole
``serve`` rounds or ``churn`` cycles (see ``ROUND_S``, ``CYCLE_S``).
Every run, on every commit, then makes the same calls after the same
write history, however fast the host runs that day.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import checks, data

K = 10
NPROBE = 4

# n: corpus vectors; lists: IVF lists; docs: documents deduplicated into
# the store; queries: the query pool; reps: set-up repetitions.
SIZES = {
    "serve": dict(n=20_000, lists=64, docs=2_000, queries=64, reps=3),
    # 64 lists in both: the artifact then always holds more list
    # directories than Spark lists serially (32), so every read pays the
    # same listing path whatever the data
    "churn": dict(n=10_000, lists=64, docs=1_000, queries=64, reps=3,
                  chunk_batch=100, vec_batch=500, vec_deletes=20,
                  chunk_deletes=5, stream_batch=500),
}
# The warm-up (and the smoke test) runs a workload at this size.
TINY = dict(n=600, lists=4, docs=60, queries=4, reps=1, chunk_batch=10,
            vec_batch=20, vec_deletes=3, chunk_deletes=2, stream_batch=20)
STORE_DOCS = 20  # documents the chunks are spread over
# A serve round is one request of each kind: exact kNN, IVF, LSH and the
# store.  kNN cycles through the four metrics and the store through the
# three tag filters from round to round; every kind gets as many samples,
# so the costly approximate searches are not the rarest.
ROUND = 4
# The warm-up asks every kNN metric and store tag once, IVF and LSH once.
WARM_REQUESTS = [0, 4, 8, 12, 1, 2, 3, 7, 11]
# ``seconds`` buys one serve round per ROUND_S and one churn cycle per
# CYCLE_S.  On the 4-core host of the first baseline a round took about
# 2.5 s and a cycle (seven writes, three or four reads) about 7 s.
ROUND_S = 2.5
CYCLE_S = 5.0


def _units(seconds: float, nominal: float) -> int:
    return max(1, round(seconds / nominal))


class Bench:
    """One workload run: the session, the tracer, the run's scratch
    directory and the failure log."""

    def __init__(self, spark, tracer, root: str, seed: int, size: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.size = size
        self.failures: list[str] = []
        self.state_checks = 0
        self.measure_s = 0.0
        self.space_amp = 0.0
        self.setup_reps: list[float] = []
        self.setup_extra = 0.0  # warm-up, and the stream's first micro-batch
        self.last_built = None
        self._dirs = 0

    def op(self, name: str, fn, *, check=None, **kw):
        """One call into the package; ``check(out)`` returns error strings."""
        out = self.tracer.call(name, fn, **kw)
        errs = check(out) if check else []
        if errs:
            self.failures.append(f"{name}: {'; '.join(errs[:3])}")
        return out

    def state_check(self, what: str, errs: list[str]) -> None:
        """A check on state rather than on one call's answer; it counts as
        one attempted operation."""
        self.state_checks += 1
        if errs:
            self.failures.append(f"{what}: {'; '.join(errs[:3])}")

    def newdir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.root, f"{tag}{self._dirs}")
        os.makedirs(path)
        return path

    def literal(self, rows, schema: str):
        from inmem_vector_db_spark.functions.localframe import literal_df

        return literal_df(self.spark, rows, schema)

    def query_frame(self, qs: np.ndarray):
        return self.literal(
            [(i, [float(x) for x in q]) for i, q in enumerate(qs)],
            "query_id bigint, query_vec array<double>",
        )


class Inputs:
    """A workload's generated inputs, also written as parquet files the
    package reads through ``sources.loader``."""

    def __init__(self, b: Bench, size: dict) -> None:
        rng = b.rng
        self.centres = data.centres(rng)
        self.X = data.vectors(rng, size["n"], self.centres)
        self.ids = np.arange(size["n"], dtype=np.int64)
        self.Q = data.queries(rng, self.X, size["queries"])
        self.texts = data.documents(rng, size["docs"])
        self.dir = b.newdir("data")
        # several files, as a corpus arrives, so scans split across cores
        data.write_vectors(os.path.join(self.dir, "embeddings.parquet"), self.ids, self.X,
                           files=4)
        data.write_documents(os.path.join(self.dir, "documents.parquet"), self.texts)
        self._pos = None

    def pos(self) -> dict:
        """vec_id -> row of ``X``."""
        if self._pos is None:
            self._pos = dict(zip(self.ids.tolist(), range(len(self.ids))))
        return self._pos


class Built:
    """What the pipeline leaves behind: a store, its live chunks, and the
    written index artifacts."""

    store = lid = corpus = centroids = lsh = lsh_path = lsh_index = buckets = None
    live: dict
    ivf_path: str


def pipeline(b: Bench, inp: Inputs, size: dict, *, lsh: bool) -> Built:
    """Exact dedup -> store load -> k-means -> IVF write [-> LSH write]."""
    from inmem_vector_db_spark.operators.ann import write_ivf_index
    from inmem_vector_db_spark.operators.dedup import exact_dedup
    from inmem_vector_db_spark.operators.kmeans import kmeans_fit
    from inmem_vector_db_spark.operators.lsh import (
        RandomHyperplaneLSH,
        read_lsh_index,
        write_lsh_index,
    )
    from inmem_vector_db_spark.sources.loader import load_table
    from inmem_vector_db_spark.store import LibraryStore

    spark, n = b.spark, len(inp.ids)
    out = Built()
    out.corpus = b.op("sources.loader.load_table",
                      lambda: load_table(spark, inp.dir, "embeddings"), collect=False)
    docs = b.op("sources.loader.load_table",
                lambda: load_table(spark, inp.dir, "documents"), collect=False)
    kept = b.op("operators.dedup.exact_dedup", lambda: exact_dedup(docs),
                kind="dedup", docs=len(inp.texts),
                check=lambda rows: checks.check_exact_dedup(rows, inp.texts))
    kept = sorted(r["doc_id"] for r in kept)

    out.store = LibraryStore(spark, dim=data.DIM)
    out.lid = b.op("store.create_library", lambda: out.store.create_library("bench"))
    titles = b.literal([(f"doc {i}", [data.TAGS[i % 3]]) for i in range(STORE_DOCS)],
                       "title string, tags array<string>")
    added = b.op("store.add_documents",
                 lambda: out.store.add_documents(out.lid, titles),
                 kind="write", collect=False, rows=STORE_DOCS)
    doc_ids = [r[0] for r in added.select("document_id").collect()]
    rows = b.literal(
        [(doc_ids[i % STORE_DOCS], inp.texts[i], data.tags_for(i)) for i in kept],
        "document_id string, text string, tags array<string>",
    )
    out.live = {}
    b.op("store.add_chunks", lambda: out.store.add_chunks(out.lid, rows),
         kind="write", collect=False, rows=len(kept),
         check=lambda new: _record_chunks(new, out.live, len(kept)))

    stride = max(1, n // size["lists"])
    out.centroids = b.op(
        "operators.kmeans.kmeans_fit", lambda: kmeans_fit(out.corpus, stride=stride),
        kind="write", rows=n,
        check=lambda c: [] if np.asarray(c[1]).shape == (len(range(0, n, stride)), data.DIM)
        and np.isfinite(c[1]).all() else ["bad centroid matrix"])
    out.ivf_path = b.newdir("ivf")
    b.op("operators.ann.write_ivf_index",
         lambda: write_ivf_index(out.corpus, out.ivf_path, centroids=out.centroids),
         kind="write", rows=n)
    if b.tracer.enabled:
        b.tracer.last.notes["files_written"] = _count_files(out.ivf_path, ".parquet")
    paths = [out.ivf_path]
    if lsh:
        out.lsh = RandomHyperplaneLSH(data.DIM, seed=int(b.rng.integers(1 << 30)))
        out.lsh_path = b.newdir("lsh")
        b.op("operators.lsh.write_lsh_index",
             lambda: write_lsh_index(out.lsh, out.corpus, out.lsh_path),
             kind="write", rows=n)
        out.lsh_index = read_lsh_index(spark, out.lsh_path)
        paths.append(out.lsh_path)
    b.space_amp = sum(_du(p) for p in paths) / (n * data.DIM * 4)
    return out


# -- workloads ---------------------------------------------------------------


def serve(b: Bench, seconds: float) -> None:
    size = b.size
    _warm_up(b, "serve")
    inp = Inputs(b, size)
    for rep in range(size["reps"]):
        b.tracer.rep = rep
        _timed_setup(b, lambda: pipeline(b, inp, size, lsh=True))
    built = b.last_built
    corpus = built.corpus.cache()
    corpus.count()
    b.tracer.phase = "measure"
    t0 = time.perf_counter()
    for i in range(_units(seconds, ROUND_S) * ROUND):
        _serve_request(b, inp, built, corpus, i)
    b.measure_s = time.perf_counter() - t0


def _serve_request(b: Bench, inp: Inputs, built: Built, corpus, i: int) -> None:
    """Request ``i`` of the round-robin: one query of exact kNN, of IVF
    from the written index, of LSH, or of the store (see ``ROUND``)."""
    from inmem_vector_db_spark.operators.ann import ivf_search_indexed
    from inmem_vector_db_spark.operators.knn import knn

    rnd, which = divmod(i, ROUND)
    qi = rnd % len(inp.Q)
    q = inp.Q[qi]
    if which == 0:
        metric = checks.METRICS[rnd % len(checks.METRICS)]
        b.op("operators.knn.knn", lambda: knn(corpus, q.tolist(), k=K, metric=metric),
             kind="search", queries=1, results=K,
             check=lambda rows: checks.check_ranked(
                 [(r["vec_id"], r["dist"]) for r in rows], metric, q, inp.ids, inp.X,
                 K, True, inp.pos()))
        return
    if which == 3:
        _store_search(b, built, inp.texts[qi], data.TAGS[rnd % len(data.TAGS)])
        return
    if which == 1:
        rows = b.op("operators.ann.ivf_search_indexed",
                    lambda: ivf_search_indexed(b.spark, built.ivf_path, q.tolist(), k=K,
                                               nprobe=NPROBE),
                    kind="search", queries=1, results=K,
                    check=lambda rows: checks.check_ranked(
                        [(r["vec_id"], r["dist"]) for r in rows], "euclidean", q,
                        inp.ids, inp.X, K, False, inp.pos()))
    else:
        qdf = b.query_frame(q[None, :])
        rows = b.op("operators.lsh.search",
                    lambda: built.lsh.search(corpus, qdf, k=K, index=built.lsh_index),
                    kind="search", queries=1, results=K,
                    check=lambda rows: checks.check_ranked(
                        [(r["vec_id"], r["dist"]) for r in
                         sorted(rows, key=lambda r: r["rank"])], "euclidean", q,
                        inp.ids, inp.X, K, False, inp.pos()))
        if b.tracer.enabled:
            with b.tracer.bookkeeping():
                b.tracer.last.notes["candidates"] = _lsh_candidates(built, inp.X, q[None, :])
    truth = checks.exact_topk("euclidean", q, inp.X, inp.ids, K)[0]
    b.tracer.last.notes["recall"] = checks.recall([r["vec_id"] for r in rows], truth)


def _store_search(b: Bench, built: Built, text: str, tag: str) -> None:
    query = " ".join(text.split(" ")[:8])
    b.op("store.search",
         lambda: built.store.search(built.lid, query, k=K, filter_tags=[tag]),
         kind="search", queries=1, results=K,
         check=lambda rows: checks.check_store_search(
             [(r["chunk_id"], r["score"], r["rank"], r["tags"]) for r in rows],
             built.live, query, K, "euclidean", [tag], data.DIM))


def churn(b: Bench, seconds: float) -> None:
    size = b.size
    _warm_up(b, "churn")
    inp = Inputs(b, size)
    for rep in range(size["reps"]):
        b.tracer.rep = rep
        _timed_setup(b, lambda: pipeline(b, inp, size, lsh=False))
    state = _Churn(b, inp, b.last_built, size)
    # the stream's first micro-batch creates its checkpoint: set-up too
    t0 = time.perf_counter()
    b.tracer.phase = "warmup"
    state.write(_Churn.WRITES.index("incremental_index_ingest"))
    b.setup_extra += time.perf_counter() - t0
    b.tracer.phase = "measure"
    t0 = time.perf_counter()
    # a read after every other write: over two cycles (seven writes, an
    # odd number) the reads follow every kind of write
    for i in range(_units(seconds, CYCLE_S) * len(_Churn.WRITES)):
        state.write(i)
        if i % 2 == 0:
            state.read(i // 2)
    b.measure_s = time.perf_counter() - t0
    state.final_checks()
    b.space_amp = _du(state.built.ivf_path) / (len(state.vec) * data.DIM * 4)


class _Churn:
    """The churn op mix and the op log it checks the store and the index
    against."""

    WRITES = ("add_documents", "add_chunks", "update_chunk", "delete_chunks",
              "append_ivf_index", "delete_from_ivf_index", "incremental_index_ingest")

    def __init__(self, b: Bench, inp: Inputs, built: Built, size: dict) -> None:
        from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH

        self.b, self.inp, self.built, self.size = b, inp, built, size
        self.vec = dict(zip(inp.ids.tolist(), inp.X))  # live IVF rows
        self.next_id = int(inp.ids[-1]) + 1
        self.texts = data.documents(b.rng, 400)
        self.n_docs = STORE_DOCS
        self.doc_ids = None
        self.src = b.newdir("stream_src")
        self.stream_index = os.path.join(b.newdir("stream"), "index")
        self.checkpoint = os.path.join(b.newdir("ckpt"), "checkpoint")
        self.lsh = RandomHyperplaneLSH(data.DIM, seed=int(b.rng.integers(1 << 30)))
        self.streamed = 0
        self.files = 0

    def _new_vectors(self, n: int):
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return ids, data.vectors(self.b.rng, n, self.inp.centres)

    def write(self, i: int) -> None:
        getattr(self, "_" + self.WRITES[i % len(self.WRITES)])()

    def _add_documents(self):
        b, st = self.b, self.built
        titles = b.literal([(f"doc {self.n_docs}", [data.TAGS[0]]),
                            (f"doc {self.n_docs + 1}", [data.TAGS[1]])],
                           "title string, tags array<string>")
        added = b.op("store.add_documents", lambda: st.store.add_documents(st.lid, titles),
                     kind="write", collect=False, rows=2)
        self.doc_ids = [r[0] for r in added.select("document_id").collect()]
        self.n_docs += 2

    def _add_chunks(self):
        b, st, n = self.b, self.built, self.size["chunk_batch"]
        picks = b.rng.integers(0, len(self.texts), n)
        rows = b.literal(
            [(self.doc_ids[j % 2], self.texts[t], data.tags_for(int(t))) for j, t in enumerate(picks)],
            "document_id string, text string, tags array<string>")
        b.op("store.add_chunks", lambda: st.store.add_chunks(st.lid, rows),
             kind="write", collect=False, rows=n,
             check=lambda new: _record_chunks(new, st.live, n))

    def _pick_chunks(self, n: int) -> list[str]:
        ids = sorted(self.built.live)
        return [ids[j] for j in self.b.rng.choice(len(ids), n, replace=False)]

    def _update_chunk(self):
        b, st = self.b, self.built
        cid = self._pick_chunks(1)[0]
        text = self.texts[int(b.rng.integers(len(self.texts)))]
        b.op("store.update_chunk", lambda: st.store.update_chunk(cid, text=text), kind="write")
        st.live[cid] = (text, st.live[cid][1])

    def _delete_chunks(self):
        b, st = self.b, self.built
        ids = self._pick_chunks(self.size["chunk_deletes"])
        b.op("store.delete_chunks", lambda: st.store.delete_chunks(ids), kind="write")
        for cid in ids:
            del st.live[cid]

    def _append_ivf_index(self):
        from inmem_vector_db_spark.operators.ann import append_ivf_index

        b = self.b
        ids, mat = self._new_vectors(self.size["vec_batch"])
        batch = b.literal([(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
                          "vec_id bigint, embedding array<float>")
        b.op("operators.ann.append_ivf_index",
             lambda: append_ivf_index(batch, self.built.ivf_path), kind="write", rows=len(ids))
        self.vec.update(zip(ids.tolist(), mat))

    def _delete_from_ivf_index(self):
        from inmem_vector_db_spark.operators.ann import delete_from_ivf_index

        b = self.b
        live = sorted(self.vec)
        ids = [live[j] for j in b.rng.choice(len(live), self.size["vec_deletes"], replace=False)]
        b.op("operators.ann.delete_from_ivf_index",
             lambda: delete_from_ivf_index(b.spark, self.built.ivf_path, ids), kind="write",
             check=lambda n: [] if n >= 1 else ["no inverted list affected"])
        for i in ids:
            del self.vec[i]

    def _incremental_index_ingest(self):
        from inmem_vector_db_spark.streaming.ingest import incremental_index_ingest

        b = self.b
        ids, mat = self._new_vectors(self.size["stream_batch"])
        # written aside, then renamed in: the stream must never list a
        # half-written file
        staged = os.path.join(self.b.root, "staged.parquet")
        data.write_vector_file(staged, ids, mat)
        os.replace(staged, os.path.join(self.src, f"batch{self.files:04d}.parquet"))
        self.files += 1
        b.op("streaming.ingest.incremental_index_ingest",
             lambda: incremental_index_ingest(
                 b.spark, self.src, "vec_id bigint, embedding array<float>",
                 self.stream_index, self.lsh.build_index, checkpoint_dir=self.checkpoint),
             kind="write", rows=len(ids))
        b.tracer.attach_stream_runs(b.tracer.last)
        self.streamed += len(ids)

    def read(self, j: int) -> None:
        from inmem_vector_db_spark.operators.ann import ivf_search_indexed

        b, st = self.b, self.built
        qi = j % len(self.inp.Q)
        if j % 2 == 0:
            _store_search(b, st, self.texts[qi], data.TAGS[j % 3])
            return
        q = self.inp.Q[qi]
        ids = np.fromiter(self.vec.keys(), dtype=np.int64, count=len(self.vec))
        mat = np.stack(list(self.vec.values()))
        truth = checks.exact_topk("euclidean", q, mat, ids, K)[0]
        rows = b.op("operators.ann.ivf_search_indexed",
                    lambda: ivf_search_indexed(b.spark, st.ivf_path, q.tolist(), k=K,
                                               nprobe=NPROBE),
                    kind="search", queries=1, results=K,
                    check=lambda rows: checks.check_ranked(
                        [(r["vec_id"], r["dist"]) for r in rows], "euclidean", q, ids, mat,
                        K, exact=False))
        b.tracer.last.notes["recall"] = checks.recall([r["vec_id"] for r in rows], truth)

    def final_checks(self) -> None:
        """Row counts must equal what the op log implies, and no deleted id
        may remain."""
        b, st = self.b, self.built
        spark = b.spark
        errs = []
        chunks = {r[0] for r in st.store.chunks.select("chunk_id").collect()}
        if chunks != set(st.live):
            errs.append(f"store holds {len(chunks)} chunks, op log {len(st.live)}")
        vecs = spark.read.parquet(f"{st.ivf_path}/vectors").select("vec_id").collect()
        got = [r[0] for r in vecs]
        if len(got) != len(self.vec) or set(got) != set(self.vec):
            errs.append(f"IVF index holds {len(got)} rows, op log {len(self.vec)}")
        if self.streamed:
            n = spark.read.parquet(self.stream_index).count()
            if n != self.streamed * self.lsh.num_tables:
                errs.append(f"stream index holds {n} rows, op log "
                            f"{self.streamed * self.lsh.num_tables}")
        b.state_check("churn final state", errs)


# -- set-up helpers ------------------------------------------------------------


def _timed_setup(b: Bench, fn) -> None:
    t0 = time.perf_counter()
    b.last_built = fn()
    b.setup_reps.append(time.perf_counter() - t0)


def _warm_up(b: Bench, workload: str) -> None:
    """Run the workload's own calls once at tiny size, so Python worker
    start, code generation and the first stream start land in set-up."""
    t0 = time.perf_counter()
    b.tracer.phase = "warmup"
    saved, b.size = b.size, TINY
    try:
        inp = Inputs(b, TINY)
        built = pipeline(b, inp, TINY, lsh=workload == "serve")
        if workload == "serve":
            for i in WARM_REQUESTS:
                _serve_request(b, inp, built, built.corpus, i)
        else:
            state = _Churn(b, inp, built, TINY)
            for i in range(len(_Churn.WRITES)):
                state.write(i)
            state.read(0)
            state.read(1)
    finally:
        b.size = saved
    b.tracer.phase = "setup"
    b.setup_extra += time.perf_counter() - t0


# -- counts for the useful-work ratios (traced run only) ----------------------


def _lsh_candidates(built: Built, X: np.ndarray, Q: np.ndarray) -> int:
    """Corpus rows sharing a bucket with each query in any table, summed
    over the queries; a query with fewer than K falls back to a full scan.
    Buckets come from the index's own signature function."""
    if built.buckets is None:
        built.buckets = {}
        for row, sigs in enumerate(built.lsh.signatures_np(X)):
            for key in enumerate(sigs):
                built.buckets.setdefault(key, set()).add(row)
    by_bucket = built.buckets
    total = 0
    for sigs in built.lsh.signatures_np(Q):
        hit = set().union(*(by_bucket.get(key, set()) for key in enumerate(sigs)))
        total += len(hit) if len(hit) >= K else len(X)
    return total


def _record_chunks(new, live: dict, n: int) -> list[str]:
    """Add the chunks ``add_chunks`` returned to the op log's live set."""
    got = new.select("chunk_id", "text", "tags").collect()
    live.update({r[0]: (r[1], list(r[2])) for r in got})
    return [] if len(got) == n else [f"{len(got)} of {n} chunks stored"]


def _count_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {"serve": serve, "churn": churn}
