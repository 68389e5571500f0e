"""Spans around every call the benchmark makes into the package, and the
Spark-side attribution of the traced run.

Every call is timed, traced or not: wall clock, and the CPU time and
resident size of the whole process tree (this process, the JVM, Spark's
Python workers) read at the call's boundaries, followed by a host-speed
reference.  With tracing on, each call also gets its own Spark job
group, so the event log attributes every job to the call that ran it;
streaming micro-batch jobs carry the stream's run id as their group
instead and are matched to the ``incremental_index_ingest`` call through
a ``StreamingQueryListener``.  The Catalyst phases are read from
the DataFrame a call returns.  Spans stay in memory; ``attribute_jobs``
folds in the event log once the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

BENCH_GROUP = "pb-bench"  # the benchmark's own checking jobs


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    kind: str | None
    phase: str
    rep: int
    t0: float  # epoch seconds
    t1: float = 0.0
    wall: float = 0.0
    cpu: float = 0.0  # process-tree CPU seconds (top-level calls only)
    ref: float = 0.0  # reference_s() right after the call (top-level calls only)
    notes: dict = field(default_factory=dict)


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out += kids
                stack += kids
        except (FileNotFoundError, ProcessLookupError):
            continue  # the process ended while we walked the tree
    return out


def children() -> list[int]:
    """Every live process this one started, directly or not."""
    return _descendants(os.getpid())


_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _cpu_clock(pid: int) -> int:
    """The id of ``pid``'s process-wide CPU clock (Linux's encoding of
    clock_getcpuclockid): nanosecond run time of all its threads, live
    and ended.  Children's time is not in it."""
    return ((~pid) << 3) | 2


def tree_usage() -> tuple[dict, float]:
    """CPU seconds used so far by each process of the tree (this one and all
    its descendants: the JVM and Spark's Python workers), keyed by pid and
    start time, as (its own, its reaped children's); and the tree's
    resident MB."""
    cpu, pages = {}, 0
    for p in [os.getpid(), *children()]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we walked the tree
        try:
            own = time.clock_gettime(_cpu_clock(p))
        except OSError:  # exited, not yet reaped: its final utime + stime
            own = (int(f[11]) + int(f[12])) / _TICKS
        reaped = (int(f[13]) + int(f[14])) / _TICKS  # cutime + cstime
        cpu[(p, f[19])] = (own, reaped)  # f[19]: start time; a reused pid is a new key
        pages += int(f[21])  # rss
    return cpu, pages * _PAGE_MB


def cpu_between(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two ``tree_usage`` readings.  A
    process that ended in between has moved its whole life into its
    parent's reaped-children time, so what it had used before is taken
    back out; a process that started and ended in between is counted
    through its parent alone."""
    total = 0.0
    for key, (own, reaped) in after.items():
        own0, reaped0 = before.get(key, (0.0, 0.0))
        total += own - own0 + reaped - reaped0
    for key, (own0, reaped0) in before.items():
        if key not in after:
            total -= own0 + reaped0
    return total


_REF_DATA = np.random.default_rng(0).random(300_000)


def reference_s() -> float:
    """CPU seconds this thread takes to sort a fixed array of 300k doubles
    (2.4 MB): how fast the host runs code right now.  On a shared host the
    same program's CPU time per call moves with the other tenants' load on
    caches, memory and sibling cores, and over same-input runs this sort
    moved with it more closely (correlation 0.85-0.94) than a pure-Python
    loop or a memory-streaming sum.  It touches nothing of the package."""
    t0 = time.thread_time()
    np.sort(_REF_DATA)
    return time.thread_time() - t0


class Tracer:
    """Records one span per call.  ``enabled`` switches on the Spark-side
    attribution: job groups, Catalyst phases, plan sizes and the stream
    listener (the event log itself is a session setting, see ``run.py``)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.rep = 0
        self.rss_peak_mb = 0.0
        self.bookkeeping_s = 0.0  # tracing work between calls
        self._stack: list[Span] = []
        self._listener = None
        self._runs_seen = 0
        if enabled:
            self.sc.setJobGroup(BENCH_GROUP, "benchmark checks", False)
            self._listener = _StreamCollector()
            spark.streams.addListener(self._listener)

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, kind: str | None) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, kind, self.phase, self.rep, time.time())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: Span, t0: float) -> None:
        span.wall = time.perf_counter() - t0
        span.t1 = time.time()
        self._stack.pop()

    def call(self, name: str, fn, *, kind: str | None = None, collect: bool = True,
             **notes):
        """Run ``fn()`` as one timed call.  A returned DataFrame is collected
        inside the span (the rows are returned) unless ``collect`` is False.
        ``notes`` (rows, queries, docs, results) feed the throughput and
        useful-work ratios."""
        span = self._open(name, kind)
        span.notes.update(notes)
        if self.enabled:
            self.sc.setJobGroup(f"pb-{span.id}", name, False)
        cpu0 = tree_usage()[0]
        t0 = time.perf_counter()
        try:
            out = fn()
            df = out if isinstance(out, DataFrame) else None
            if df is not None and collect:
                out = df.collect()
        finally:
            self._close(span, t0)
            cpu1, rss = tree_usage()
            span.cpu = cpu_between(cpu0, cpu1)
            self.rss_peak_mb = max(self.rss_peak_mb, rss)
            if self.enabled:
                self.sc.setJobGroup(BENCH_GROUP, "benchmark checks", False)
        if self.enabled and df is not None:
            with self.bookkeeping():
                self._record_plan(span, df)
        span.ref = reference_s()
        return out

    def wrap(self, name: str, fn):
        """A stand-in for a package function that records a child span
        under whichever call is running (used for functions the package
        calls internally, such as the distance and embedding builders)."""

        def wrapped(*args, **kwargs):
            span = self._open(name, None)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span, t0)

        return wrapped

    @contextmanager
    def bookkeeping(self):
        """Time tracing work done between calls."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    @property
    def last(self) -> Span:
        """The most recent top-level call."""
        return next(s for s in reversed(self.spans) if s.parent is None)

    def _record_plan(self, span: Span, df: DataFrame) -> None:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                span.notes[f"{phase}_ms"] = phases.apply(phase).durationMs()
        span.notes["plan_nodes"] = qe.optimizedPlan().treeString().count("\n")

    # -- streams -----------------------------------------------------------

    def attach_stream_runs(self, span: Span, timeout_s: float = 15.0) -> None:
        """Wait for the listener to deliver the runs the call started and
        terminated, and file them (and their batch durations) under it."""
        if not self.enabled:
            return
        with self.bookkeeping():
            self._attach_stream_runs(span, timeout_s)

    def _attach_stream_runs(self, span: Span, timeout_s: float) -> None:
        lst = self._listener
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            new = lst.started[self._runs_seen:]
            if new and all(r in lst.terminated for r in new):
                break
            time.sleep(0.05)
        new = lst.started[self._runs_seen:]
        self._runs_seen = len(lst.started)
        span.notes["runs"] = list(new)
        durations: dict[str, float] = {}
        for run in new:
            for prog in lst.progress.get(run, []):
                for key, ms in prog["durationMs"].items():
                    durations[key] = durations.get(key, 0.0) + ms
        span.notes["duration_ms"] = durations

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


class _StreamCollector:
    """Listener state lives here; the pyspark base class is bound lazily so
    importing this module does not need a session."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class Collector(StreamingQueryListener):
            def __init__(self):
                self.started: list[str] = []
                self.terminated: set[str] = set()
                self.progress: dict[str, list] = {}

            def onQueryStarted(self, event):
                self.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                self.progress.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.terminated.add(str(event.runId))

        return Collector()


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    paths += [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for path in paths:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute_jobs(spans: list[Span], events: list[dict]) -> dict:
    """Fold the event log into per-span job metrics (``span.notes``) and
    return run-level counts of jobs by attribution."""
    group_span = {f"pb-{s.id}": s for s in spans}
    for s in spans:
        for run in s.notes.get("runs", ()):
            group_span[run] = s
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    counts = {"jobs": 0, "attributed": 0, "bench": 0, "unattributed": 0, "stream": 0}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            span = group_span.get(group)
            jobs[ev["Job ID"]] = {"span": span, "t0": ev["Submission Time"], "t1": None}
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, ev["Job ID"])
            counts["jobs"] += 1
            if span is not None:
                counts["attributed"] += 1
                span.notes["jobs"] = span.notes.get("jobs", 0) + 1
                if "sql.streaming.queryId" in props:
                    counts["stream"] += 1
            elif group == BENCH_GROUP:
                counts["bench"] += 1
            else:
                counts["unattributed"] += 1
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["t1"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            span = job and job["span"]
            if span is None:
                continue
            tm = ev.get("Task Metrics") or {}
            n = span.notes
            n["task_run_s"] = n.get("task_run_s", 0.0) + tm.get("Executor Run Time", 0) / 1e3
            n["gc_s"] = n.get("gc_s", 0.0) + tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            n["shuffle_bytes"] = n.get("shuffle_bytes", 0) + sw.get("Shuffle Bytes Written", 0)
            out = tm.get("Output Metrics") or {}
            n["bytes_written"] = n.get("bytes_written", 0) + out.get("Bytes Written", 0)
            inp = tm.get("Input Metrics") or {}
            n["records_read"] = n.get("records_read", 0) + inp.get("Records Read", 0)
    by_span: dict[int, list] = {}
    for job in jobs.values():
        if job["span"] is not None and job["t1"] is not None:
            by_span.setdefault(job["span"].id, []).append((job["t0"], job["t1"]))
    for s in spans:
        covered = _union_ms(by_span.get(s.id, []), s.t0 * 1e3, s.t1 * 1e3)
        s.notes["driver_gap_s"] = max(0.0, s.wall - covered / 1e3)
    return counts


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median_of(spans: list[Span], key) -> float:
    vals = [v for v in (key(s) for s in spans) if v is not None]
    return float(statistics.median(vals)) if vals else 0.0
