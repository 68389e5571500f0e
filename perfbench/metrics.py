"""End-to-end and per-layer metrics, computed from a run's spans.

The end-to-end costs are CPU time of the whole process tree (this
process, the JVM, Spark's Python workers) spent inside the calls: what a
call costs the host, and what bounds how many calls a host can serve.
On a shared host both wall-clock time and CPU time move with the other
tenants' load, run to run, so CPU time is scaled by the host's speed,
measured right after each call with a fixed sort
(``trace.reference_s``): a cost reads in CPU seconds on a host where
that sort takes ``REF_S``.  Wall-clock latencies are reported on
standard error and, traced, as ``trace.*``.

A metric is computed over the calls of one kind made in the measured
window; a workload whose measured window makes no such call takes them
from its three set-up builds instead (``serve`` builds its indexes and
store in set-up, so its write costs come from there).  Warm-up calls
never count.
"""

from __future__ import annotations

import statistics

import numpy as np

from perfbench.trace import Span, median_of

BUILD = {"operators.kmeans.kmeans_fit", "operators.ann.write_ivf_index",
         "operators.lsh.write_lsh_index"}
REF_S = 0.0042  # about what reference_s() takes on the 4-core host of the first baseline

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "search_cpu_ms": ("ms", "lower"),
    "write_cpu_ms": ("ms", "lower"),
    "build_rows_per_cpu_s": ("rows/cpu-s", "higher"),
    "recall_at_10": ("ratio", "higher"),
    "index_space_amp": ("ratio", "lower"),
}

_BASE = [("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("task_run_s", "s"),
         ("driver_gap_s", "s")]
_PLAN = [("plan_ms", "ms")]
_PHASES = [("analysis_ms", "ms"), ("optimization_ms", "ms"), ("planning_ms", "ms")]
_STREAM = {"query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
           "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
           "trigger_ms": "triggerExecution"}

# Timed calls and their metrics: (name, unit) per call.
CALLS = {
    "sources.loader.load_table": [("wall_s", "s"), ("jobs", "count")],
    "operators.knn.knn": _BASE + _PLAN + _PHASES,
    "operators.ann.ivf_search_indexed": _BASE + _PLAN + _PHASES
    + [("rows_scanned_per_result", "ratio")],
    "operators.lsh.search": _BASE + _PLAN + _PHASES
    + [("candidates_per_result", "ratio"), ("gc_s", "s")],
    "store.search": _BASE + _PLAN + _PHASES + [("plan_nodes", "count")],
    "operators.kmeans.kmeans_fit": _BASE + [("shuffle_bytes", "B")],
    "operators.ann.write_ivf_index": _BASE + [("bytes_written", "B"), ("files_written", "count")],
    "operators.lsh.write_lsh_index": _BASE + [("bytes_written", "B")],
    "operators.dedup.exact_dedup": _BASE + _PLAN + [("shuffle_bytes", "B")],
    "store.add_documents": _BASE + _PLAN,
    "store.add_chunks": _BASE + _PLAN,
    "store.update_chunk": _BASE,
    "store.delete_chunks": _BASE,
    "operators.ann.append_ivf_index": _BASE,
    "operators.ann.delete_from_ivf_index": _BASE,
    "streaming.ingest.incremental_index_ingest": _BASE + [(k, "ms") for k in _STREAM],
}
# Functions the package calls internally, wrapped in the traced run: name
# -> the package modules that hold a reference to them (defining module
# first).
INNER = {
    "functions.distance.distance": ("functions.distance", "operators.knn",
                                    "operators.lsh", "store"),
    "sources.embedding.with_embeddings": ("sources.embedding", "store"),
    "sources.embedding.hash_embed_texts": ("sources.embedding",),
}
# Peak resident size of the process tree (sampled after every call; it
# follows the JVM's heap sizing, which moves with GC timing, so it carries
# no bound), the run's host-speed reference, the traced run's own costs
# and wall-clock latencies (their ratio to an untraced run's is the
# tracing overhead), the time tracing spent between calls, and how
# completely jobs were attributed.
TRACE = {"peak_rss_mb": "MB", "host.reference_ms": "ms",
         "trace.search_cpu_ms": "ms", "trace.write_cpu_ms": "ms",
         "trace.search_p50_s": "s", "trace.write_p50_s": "s", "trace.bookkeeping_s": "s",
         "trace.jobs_attributed_share": "ratio", "trace.search_samples": "count",
         "trace.write_samples": "count"}


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    spec = {"session.get_spark.wall_s": "s"}
    for call, metrics in CALLS.items():
        spec.update({f"{call}.{m}": unit for m, unit in metrics})
    for fn in INNER:
        spec[f"{fn}.calls"] = "count"
        spec[f"{fn}.wall_s"] = "s"
    spec.update(TRACE)
    return spec


def _pick(spans: list[Span], pred) -> list[Span]:
    top = [s for s in spans if s.parent is None and pred(s)]
    return [s for s in top if s.phase == "measure"] or [s for s in top if s.phase == "setup"]


def reference_s(spans: list[Span]) -> float:
    """The host-speed reference taken right after these calls, median."""
    return median_of(spans, lambda s: s.ref)


def _cpu_s(spans: list[Span]) -> float:
    """CPU seconds of the calls, scaled to the reference host by the speed
    measured while they ran.  The windows are fixed work, so the calls are
    the same in every run, and a total takes in the background work
    (compilation, collection) that lands in one call or another."""
    return sum(s.cpu for s in spans) * REF_S / reference_s(spans)


def _cpu_ms_per_call(spans: list[Span]) -> float:
    return 1e3 * _cpu_s(spans) / len(spans)


def _rows_per_cpu_s(spans: list[Span]) -> float:
    """Corpus rows built per CPU second of k-means and the index writes."""
    rows = {s.rep: s.notes["rows"] for s in spans}  # each build's corpus, once
    return sum(rows.values()) / _cpu_s(spans)


def _typical(spans: list[Span]) -> float:
    """Each function's median latency, averaged over the functions of the
    mix.  A pooled median of a round-robin over functions of different
    cost falls between two functions' extremes and jumps between runs."""
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s.wall)
    return float(np.mean([np.median(w) for w in by.values()]))


def _p90(spans: list[Span]) -> float:
    return float(np.percentile([s.wall for s in spans], 90))


def searches(spans: list[Span]) -> list[Span]:
    return _pick(spans, lambda s: s.kind == "search")


def writes(spans: list[Span]) -> list[Span]:
    return _pick(spans, lambda s: s.kind == "write")


def end_to_end(b, session_s: float) -> dict[str, float]:
    spans = b.tracer.spans
    search, write = searches(spans), writes(spans)
    build = _pick(spans, lambda s: s.name in BUILD)
    recall = [s.notes["recall"] for s in _pick(spans, lambda s: "recall" in s.notes)]
    return {
        "setup_s": session_s + b.setup_extra + statistics.median(b.setup_reps),
        "search_cpu_ms": _cpu_ms_per_call(search),
        "write_cpu_ms": _cpu_ms_per_call(write),
        "build_rows_per_cpu_s": _rows_per_cpu_s(build),
        "recall_at_10": float(np.mean(recall)),
        "index_space_amp": b.space_amp,
    }


def latencies(b) -> dict[str, float]:
    """Wall-clock latencies of the run's searches and writes (standard
    error, and the traced run's ``trace.*``)."""
    spans = b.tracer.spans
    return {"search_p50_s": _typical(searches(spans)),
            "search_p90_s": _p90(searches(spans)),
            "write_p50_s": _typical(writes(spans)),
            "write_p90_s": _p90(writes(spans))}


def samples(b) -> dict[str, int]:
    spans = b.tracer.spans
    return {"search": len(searches(spans)), "write": len(writes(spans))}


def per_layer(b, session_s: float, counts: dict, e2e: dict) -> dict:
    """Per-call medians over the traced run's calls (warm-up excluded);
    a function the workload never calls reads 0."""
    spans = [s for s in b.tracer.spans if s.phase != "warmup"]
    out = {"session.get_spark.wall_s": session_s}
    for call, metrics in CALLS.items():
        mine = [s for s in spans if s.parent is None and s.name == call]
        for m, _ in metrics:
            out[f"{call}.{m}"] = _call_metric(mine, m)
    for fn in INNER:
        mine = [s for s in spans if s.name == fn]
        out[f"{fn}.calls"] = len(mine)
        out[f"{fn}.wall_s"] = median_of(mine, lambda s: s.wall)
    total = counts["attributed"] + counts["unattributed"]
    n = samples(b)
    lat = latencies(b)
    out.update({
        "peak_rss_mb": b.tracer.rss_peak_mb,
        "host.reference_ms": 1e3 * reference_s([s for s in spans if s.parent is None]),
        "trace.search_cpu_ms": e2e["search_cpu_ms"],
        "trace.write_cpu_ms": e2e["write_cpu_ms"],
        "trace.search_p50_s": lat["search_p50_s"],
        "trace.write_p50_s": lat["write_p50_s"],
        "trace.bookkeeping_s": b.tracer.bookkeeping_s,
        "trace.jobs_attributed_share": counts["attributed"] / total if total else 1.0,
        "trace.search_samples": n["search"],
        "trace.write_samples": n["write"],
    })
    return out


def _call_metric(spans: list[Span], m: str) -> float:
    if not spans:
        return 0.0
    if m == "wall_s":
        return median_of(spans, lambda s: s.wall)
    if m == "cpu_s":
        return median_of(spans, lambda s: s.cpu)
    if m == "plan_ms":
        return median_of(spans, lambda s: sum(s.notes.get(f"{p}_ms", 0)
                                              for p in ("analysis", "optimization", "planning")))
    if m in _STREAM:
        return median_of(spans, lambda s: s.notes.get("duration_ms", {}).get(_STREAM[m], 0))
    if m == "rows_scanned_per_result":
        return _ratio(spans, "records_read", "results")
    if m == "candidates_per_result":
        return _ratio(spans, "candidates", "results")
    return median_of(spans, lambda s: s.notes.get(m, 0))


def _ratio(spans: list[Span], num: str, den: str) -> float:
    d = sum(s.notes.get(den, 0) for s in spans)
    return sum(s.notes.get(num, 0) for s in spans) / d if d else 0.0
