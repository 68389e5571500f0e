"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics.  ``--trace 1`` runs the same workload traced (event log, a job
group per call, Catalyst phases, stream listener) and prints the
per-layer metrics, including its own search and write costs: their ratio
to an untraced run's is the tracing overhead.  Wall-clock latencies go to
standard error.  Everything the run writes lives under one directory of
the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "inmem_vector_db_spark"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="run at warm-up size (for the smoke test)")
    return ap.parse_args(argv)


def _cores() -> int:
    # Two task slots: the workloads are latency-bound at these sizes, and on
    # a shared 4-core host local[2] measured the same latencies as local[4]
    # with a steadier, smaller resident size.
    return min(2, len(os.sched_getaffinity(0)))


def _session(root: str, traced: bool):
    from inmem_vector_db_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # read at JVM launch only (the first session of the process)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{_cores()}]", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, session_s


def _wrap_inner(tracer):
    """Route the package's internal distance and embedding builders through
    child spans; returns the undo list."""
    import importlib

    from perfbench.metrics import INNER

    undo = []
    for name, modules in INNER.items():
        attr = name.rsplit(".", 1)[1]
        original = getattr(importlib.import_module(f"{PACKAGE}.{modules[0]}"), attr)
        wrapped = tracer.wrap(name, original)
        for mod in modules:
            module = importlib.import_module(f"{PACKAGE}.{mod}")
            undo.append((module, attr, getattr(module, attr)))
            setattr(module, attr, wrapped)
    return undo


def _pass(args, root: str, traced: bool):
    """Run the workload in a fresh session."""
    from perfbench import metrics, workloads
    from perfbench.trace import Tracer, attribute_jobs, read_event_log

    for sub in ("spark-local", "warehouse", "tmp", "eventlog", "work"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    spark, session_s = _session(root, traced)
    tracer = Tracer(spark, traced)
    undo = _wrap_inner(tracer) if traced else []
    size = workloads.TINY if args.tiny else workloads.SIZES[args.workload]
    b = workloads.Bench(spark, tracer, os.path.join(root, "work"), args.seed, size)
    try:
        workloads.WORKLOADS[args.workload](b, args.seconds)
    finally:
        for module, attr, value in undo:
            setattr(module, attr, value)
        tracer.close()
        spark.stop()
    counts = attribute_jobs(tracer.spans, read_event_log(os.path.join(root, "eventlog"))) \
        if traced else None
    return b, session_s, metrics.end_to_end(b, session_s), counts


def _stop_jvm() -> None:
    """End the JVM the session ran in and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit ends in kill
            proc.kill()
            proc.wait()


def _wait_children(timeout_s: float = 30.0) -> None:
    """Wait until every process this run started has ended."""
    from perfbench.trace import children

    deadline = time.monotonic() + timeout_s
    while children() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in children():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def execute(args, root: str) -> dict:
    from perfbench import metrics

    b, session_s, e2e, counts = _pass(args, root, bool(args.trace))
    n = metrics.samples(b)
    print(f"{args.workload}: {n['search']} search and {n['write']} write samples, "
          f"measured {b.measure_s:.1f} s, session {session_s:.1f} s, warm-up "
          f"{b.setup_extra:.1f} s, set-up reps {[round(x, 2) for x in b.setup_reps]}",
          file=sys.stderr)
    top = [s for s in b.tracer.spans if s.parent is None and s.phase != "warmup"]
    print("wall-clock latency: " + ", ".join(
        f"{k} {v:.3f}" for k, v in metrics.latencies(b).items())
        + f"; host reference {1e3 * metrics.reference_s(top):.3f} ms", file=sys.stderr)
    calls: dict[str, list] = {}
    for s in b.tracer.spans:
        if s.parent is None:
            calls.setdefault(f"{s.phase} {s.name}", []).append(s)
    for name, ss in sorted(calls.items()):
        print(f"  {name}: n={len(ss)} median {statistics.median(s.wall for s in ss):.3f} s, "
              f"cpu {statistics.median(s.cpu for s in ss):.3f} s", file=sys.stderr)
    if args.trace:
        print(f"jobs: {counts}", file=sys.stderr)
        values = metrics.per_layer(b, session_s, counts, e2e)
        spec = metrics.per_layer_spec()
    else:
        values = e2e
        spec = {k: unit for k, (unit, _) in metrics.END_TO_END.items()}
    failures = b.failures
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    attempted = sum(1 for s in b.tracer.spans if s.parent is None) + b.state_checks
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": spec[k]} for k in spec},
    }


def main(argv=None) -> int:
    args = _args(argv)
    # this directory's module names (trace, data, ...) must not shadow
    # top-level modules; the benchmark imports as the perfbench package
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"{PACKAGE} is not importable from {REPO}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    root = os.path.join(REPO, ".perfbench_run", f"run-{os.getpid()}")
    os.makedirs(root)
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = execute(args, root)
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        _wait_children()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass  # another run still has its directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
