"""Smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each workload prints every metric ``BENCHMARK.json`` names,
with its unit, that the traced run attributes the streaming micro-batch
jobs, that the command refuses to run without the package, and that each
correctness check flags a deliberately corrupted answer.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import checks  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, seconds: int = 2, cwd: str = REPO):
    """Run the command at tiny size; returns (returncode, stdout, stderr, pid)."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", str(seconds), "--trace", str(trace), "--tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = proc.communicate(timeout=300)
    return proc.returncode, out, err, proc.pid


@pytest.mark.parametrize("workload,trace,seconds", [
    ("serve", 0, 2), ("serve", 1, 2), ("churn", 0, 2), ("churn", 1, 6)])
def test_prints_every_metric(workload, trace, seconds):
    rc, out, err, pid = _run(workload, trace, seconds)
    assert rc == 0, err[-3000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, err[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        got = {k: v["value"] for k, v in result["metrics"].items()}
        assert got["trace.jobs_attributed_share"] == 1.0
        assert got["operators.ann.ivf_search_indexed.jobs"] >= 1
        if workload == "churn":
            assert got["streaming.ingest.incremental_index_ingest.jobs"] >= 1
            assert got["streaming.ingest.incremental_index_ingest.add_batch_ms"] > 0
    assert not os.path.exists(os.path.join(REPO, ".perfbench_run", f"run-{pid}"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, out, _, _ = _run("serve", 0, cwd=str(tmp_path))
    assert rc != 0
    assert '"metrics"' not in out


# -- each check flags a corrupted answer --------------------------------------

RNG = np.random.default_rng(0)
MAT = RNG.standard_normal((200, 8))
IDS = np.arange(200, dtype=np.int64) * 3
Q = RNG.standard_normal(8)


@pytest.mark.parametrize("metric", checks.METRICS)
def test_check_ranked(metric):
    ids, dists = checks.exact_topk(metric, Q, MAT, IDS, 5)
    good = list(zip(ids.tolist(), dists.tolist()))
    assert checks.check_ranked(good, metric, Q, IDS, MAT, 5, exact=True) == []
    far = int(IDS[np.argmax(checks.distances(metric, Q, MAT))])
    far_d = float(checks.distances(metric, Q, MAT).max())
    swapped = good[:4] + [(far, far_d)]
    assert checks.check_ranked(swapped, metric, Q, IDS, MAT, 5, exact=True)
    assert checks.check_ranked(swapped, metric, Q, IDS, MAT, 5, exact=False) == []
    bent = good[:4] + [(good[4][0], good[4][1] * 1.01 + 0.01)]
    assert checks.check_ranked(bent, metric, Q, IDS, MAT, 5, exact=False)
    assert checks.check_ranked(good[::-1], metric, Q, IDS, MAT, 5, exact=False)
    assert checks.check_ranked(good[:4], metric, Q, IDS, MAT, 5, exact=False)
    assert checks.check_ranked(good[:4] + [(1, 0.0)], metric, Q, IDS, MAT, 5, exact=False)
    assert checks.check_ranked(good[:4] + [good[3]], metric, Q, IDS, MAT, 5, exact=False)


def test_check_exact_dedup():
    texts = ["a", "b", "a", "c"]
    assert checks.check_exact_dedup([(0, "a"), (1, "b"), (3, "c")], texts) == []
    assert checks.check_exact_dedup([(0, "a"), (1, "b"), (2, "a"), (3, "c")], texts)
    assert checks.check_exact_dedup([(0, "a"), (1, "b")], texts)


def test_check_store_search():
    live = {f"c{i}": (f"text {i}", ["red"] if i % 2 else ["blue"]) for i in range(30)}
    q = "query"
    qv = checks.hash_embedding(q, 16)
    scored = sorted(
        (float(checks.distances("euclidean", qv, checks.hash_embedding(t, 16)[None, :])[0]), c)
        for c, (t, tags) in live.items() if "red" in tags)
    good = [(c, s, r + 1, ["red"]) for r, (s, c) in enumerate(scored[:5])]
    assert checks.check_store_search(good, live, q, 5, "euclidean", ["red"], 16) == []
    gone = dict(live)
    del gone[good[0][0]]
    assert checks.check_store_search(good, gone, q, 5, "euclidean", ["red"], 16)
    worse = good[:4] + [(scored[-1][1], scored[-1][0], 5, ["red"])]
    assert checks.check_store_search(worse, live, q, 5, "euclidean", ["red"], 16)
    wrong_score = good[:4] + [(good[4][0], good[4][1] + 1.0, 5, ["red"])]
    assert checks.check_store_search(wrong_score, live, q, 5, "euclidean", ["red"], 16)
    blue = next(c for c, (_, t) in live.items() if t == ["blue"])
    untagged = good[:4] + [(blue, good[4][1], 5, ["blue"])]
    assert checks.check_store_search(untagged, live, q, 5, "euclidean", ["red"], 16)


def test_recall():
    assert checks.recall([1, 2, 3], [1, 2, 4]) == pytest.approx(2 / 3)
