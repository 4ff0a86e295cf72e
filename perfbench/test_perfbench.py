"""Tests for the benchmark's generator, ground truth, checks and loop.

No Spark needed: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import itertools
import math
import os
import subprocess
import sys

import numpy as np
import pytest

import gen
from checks import check_topk, recall
from cpu import tree_cpu_s
from loop import closed_loop
from workloads import exact_knn_graph, l2_cells, reachable


def shard_bytes(seed: int, tmp_path) -> list[bytes]:
    out = tmp_path / f"seed{seed}-{len(os.listdir(tmp_path))}"
    paths = gen.write_shards(gen.mixture(seed, 300, 5).vectors, str(out), 4)
    return [open(p, "rb").read() for p in paths]


def test_same_seed_same_inputs(tmp_path):
    a, b = gen.mixture(7, 300, 5), gen.mixture(7, 300, 5)
    assert a.vectors.tobytes() == b.vectors.tobytes()
    assert a.queries.tobytes() == b.queries.tobytes()
    assert np.array_equal(a.labels, b.labels)
    assert shard_bytes(7, tmp_path) == shard_bytes(7, tmp_path)


def test_other_seed_other_inputs(tmp_path):
    a, b = gen.mixture(7, 300, 5), gen.mixture(8, 300, 5)
    assert a.vectors.tobytes() != b.vectors.tobytes()
    assert a.queries.tobytes() != b.queries.tobytes()
    assert shard_bytes(7, tmp_path) != shard_bytes(8, tmp_path)


def test_shards_hold_the_rows_in_order(tmp_path):
    m = gen.mixture(3, 301, 1)
    paths = gen.write_shards(m.vectors, str(tmp_path / "s"), 4)
    back = np.concatenate([np.fromfile(p, dtype="<f4").reshape(-1, gen.DIM) for p in sorted(paths)])
    assert back.tobytes() == m.vectors.tobytes()


def test_cluster_sizes_are_uneven():
    sizes = np.bincount(gen.mixture(5, 8192, 0).labels, minlength=gen.N_CLUSTERS)
    assert sizes.max() > 4 * max(sizes.min(), 1)


def brute_topk(vectors, query, k):
    scored = []
    for vid, v in enumerate(vectors):
        a = [float(x) for x in v]
        q = [float(x) for x in query]
        dot = sum(x * y for x, y in zip(a, q))
        s = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in q)) + 1e-8)
        scored.append((-s, -vid))
    return [-nv for _, nv in sorted(scored)[:k]]


def test_ground_truth_matches_brute_force():
    m = gen.mixture(11, 400, 4)
    exact = gen.exact_topk(m.vectors, m.queries, 10)
    for q, row in zip(m.queries, exact):
        assert list(row) == brute_topk(m.vectors, q, 10)


def test_exact_knn_graph_matches_brute_force():
    m = gen.mixture(12, 300, 0)
    g = exact_knn_graph(m.vectors, 8)
    v = m.vectors.astype(np.float64)
    for node in (0, 17, 299):
        s = np.round(v @ v[node] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[node]) + 1e-8), 6)
        s[node] = -np.inf
        want = np.lexsort((np.arange(len(v)), -s))[:8]
        assert list(g["nbr"][node * 8 : node * 8 + 8]) == list(want)
        assert list(g["rk"][node * 8 : node * 8 + 8]) == list(range(1, 9))


def correct_answer(m, q, k=10):
    ids = gen.exact_topk(m.vectors, q[None, :], k)[0]
    scores = np.round(gen.cosine(m.vectors[ids], q), 6)
    return [(int(i), float(s)) for i, s in zip(ids, scores)]


def test_check_accepts_the_exact_answer():
    m = gen.mixture(13, 500, 2)
    for q in m.queries:
        assert check_topk(correct_answer(m, q), m.vectors, q, 10) == []
        assert recall([i for i, _ in correct_answer(m, q)], gen.exact_topk(m.vectors, q[None, :], 10)[0]) == 1.0


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[:-1],  # a row missing
        lambda rows: [(rows[0][0], rows[0][1] + 2e-6)] + rows[1:],  # score off
        lambda rows: [rows[1], rows[0]] + rows[2:],  # out of order
        lambda rows: rows[:-1] + [rows[0]],  # duplicate id
        lambda rows: rows[:-1] + [(10**9, rows[-1][1])],  # id outside the corpus
    ],
)
def test_corrupted_answer_counts_as_failed(corrupt):
    m = gen.mixture(14, 500, 1)
    q = m.queries[0]
    bad = corrupt(correct_answer(m, q))
    assert check_topk(bad, m.vectors, q, 10)

    def op(i):
        return "point", 1, lambda: (check_topk(bad, m.vectors, q, 10), [0.0])

    out = closed_loop(op, lambda: True, 10.0, clock=fake_clock(step=1.0))
    assert out.attempted > 0 and out.failed == out.attempted


def test_label_means_are_the_cluster_means():
    m = gen.mixture(15, 600, 0)
    means = gen.label_means(m.vectors, m.labels)
    for c in np.unique(m.labels)[:5]:
        assert np.allclose(means[c], m.vectors[m.labels == c].astype(np.float64).mean(axis=0))


def fake_clock(step: float):
    ticks = itertools.count()
    return lambda: next(ticks) * step


def ok(i, kind="point", queries=1):
    return kind, queries, lambda: ([], [1.0])


def test_loop_counts_ops_and_queries():
    out = closed_loop(lambda i: ok(i, "ab"[i % 2], 4), lambda: True, 10.0, clock=fake_clock(step=1.0))
    assert out.failed == 0
    assert sum(map(sum, out.queries.values())) == 4 * out.attempted
    assert sorted(out.latencies_s) == ["a", "b"]
    assert sum(len(v) for v in out.latencies_s.values()) == out.attempted > 0


def test_verify_runs_outside_the_timed_span():
    clock = fake_clock(step=1.0)

    def op(i):
        # the check reads the clock five times; none of it may count
        return "point", 1, lambda: ([clock() for _ in range(5)] and [], [1.0])

    out = closed_loop(op, lambda: True, max_ops=3, clock=clock)
    assert out.latencies_s["point"] == [1.0, 1.0, 1.0]


def test_fixed_ops_run_whatever_the_time():
    seen = []

    def op(i):
        seen.append(i)
        return ok(i)

    out = closed_loop(op, lambda: True, 0.0, first=5, min_ops=2, max_ops=2, clock=fake_clock(step=100.0))
    assert seen == [5, 6] and out.attempted == 2 and out.recalls == [[1.0], [1.0]]


def test_error_with_live_driver_fails_one_op_and_goes_on():
    def op(i):
        if i == 1:
            raise RuntimeError("boom")
        return ok(i)

    out = closed_loop(op, lambda: True, 20.0, clock=fake_clock(step=1.0))
    assert out.failed == 1 and not out.driver_dead
    assert out.attempted == len(out.latencies_s["point"]) + 1


def test_dead_driver_counts_the_remaining_ops_as_failed():
    def op(i):
        if i == 2:
            raise ConnectionRefusedError("driver gone")
        return ok(i)

    # every clock read advances 1 s, so each op measures 1 s of a 100 s run
    out = closed_loop(op, lambda: False, 100.0, clock=fake_clock(step=1.0))
    assert out.driver_dead
    assert len(out.latencies_s["point"]) == 2
    # the op that died plus ceil(time left / median latency) more
    assert out.failed == out.attempted - 2
    assert out.attempted >= 40


def test_loop_measures_the_cpu_of_the_operation_only():
    used = itertools.count()

    def op(i):
        next(used)  # one CPU second inside the operation
        return "point", 1, lambda: ([next(used)] and [], [1.0])  # and one in its check

    out = closed_loop(op, lambda: True, max_ops=3, cpu=lambda: float(next(used)))
    # each read of the CPU clock also advances it by one
    assert out.cpu_s["point"] == [2.0, 2.0, 2.0]


def test_tree_cpu_counts_child_processes():
    burn = "import time\nwhile time.process_time() < 0.3: pass\nprint(flush=True)\ntime.sleep(30)"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()
        assert tree_cpu_s() - before >= 0.25
    finally:
        child.kill()
        child.wait()


def test_reachable_row_has_its_cell_among_its_probes():
    m = gen.mixture(16, 600, 40)
    cents = gen.label_means(m.vectors, m.labels)
    for vectors, cells in ((m.vectors, m.labels), (m.queries, l2_cells(m.queries, cents))):
        i = reachable(vectors, cells, cents)
        cos = cents @ vectors[i].astype(np.float64) / (np.linalg.norm(cents, axis=1) + gen.EPSILON)
        assert cells[i] in np.argsort(-cos)[:10]
    d2 = ((m.queries[:, None, :].astype(np.float64) - cents[None, :, :]) ** 2).sum(axis=2)
    assert np.array_equal(l2_cells(m.queries, cents), d2.argmin(axis=1))


def test_cpu_per_query_counts_the_first_operations_only():
    from loop import Outcome
    from run import end_to_end

    out = Outcome(cpu_s={"batch": [4.0, 2.0, 0.5]}, queries={"batch": [2, 2, 2]})
    metrics = end_to_end([1.0, 0.5], out, 2, 9.0)
    assert metrics["query_cpu_ms"] == (1500.0, "ms")
    assert metrics["setup_s"] == (9.0, "s") and metrics["recall_at_10"] == (0.75, "ratio")
