"""Tests of the benchmark's own parts: seeded inputs and oracles.

Run with ``python3 -m pytest perfbench -q``; no Spark session is needed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from perfbench import gen, oracle
from perfbench.workloads import tail


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(tmp_path, name: str, seed: int) -> dict[str, str]:
    out = tmp_path / f"{name}-{seed}-{len(os.listdir(tmp_path))}"
    out.mkdir()
    gen.GENERATORS[name](seed, str(out))
    gen.gen_l2_pairs(seed, str(out))
    return _digest(str(out))


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_bytes(tmp_path, name):
    assert _generate(tmp_path, name, 3) == _generate(tmp_path, name, 3)


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_other_seed_gives_other_inputs(tmp_path, name):
    a, b = _generate(tmp_path, name, 3), _generate(tmp_path, name, 4)
    assert a.keys() == b.keys()
    assert all(a[f] != b[f] for f in a)


def test_knn_check_breaks_ties_by_id():
    ids = np.array([10, 11, 12, 13])
    d2 = np.array([1.0, 0.5, 0.5, 2.0])
    assert oracle.check_knn(d2, ids, [(11, 0.5), (12, 0.5)], 2)
    assert not oracle.check_knn(d2, ids, [(12, 0.5), (11, 0.5)], 2)  # tie out of id order
    assert not oracle.check_knn(d2, ids, [(11, 0.5), (10, 1.0)], 2)  # misses 12
    assert not oracle.check_knn(d2, ids, [(11, 0.5)], 2)  # too short


def test_knn_check_accepts_last_bit_differences():
    ids = np.array([1, 2, 3])
    d2 = np.array([0.3, 0.1 + 0.2, 5.0])  # 0.30000000000000004 vs 0.3
    assert oracle.check_knn(d2, ids, [(1, 0.3), (2, 0.3)], 2)
    # the engine computed id 2 one bit closer: its order stands
    assert oracle.check_knn(d2, ids, [(2, 0.3), (1, 0.1 + 0.2)], 2)


def test_range_check():
    ids = np.array([1, 2, 3])
    d2 = np.array([0.5, 1.0, 1.5])
    assert oracle.check_range(d2, ids, [(1, 0.5), (2, 1.0)], 1.0)
    assert oracle.check_range(d2, ids, [(1, 0.5)], 1.0 + 1e-12)  # boundary hit may go either way
    assert not oracle.check_range(d2, ids, [(1, 0.5)], 1.2)
    assert not oracle.check_range(d2, ids, [(1, 0.5), (2, 1.0), (3, 1.5)], 1.2)


def test_approx_check():
    ids = np.array([1, 2, 3])
    d2 = np.array([0.5, 1.0, 1.5])
    assert oracle.check_approx(d2, ids, [(1, 0.5), (3, 1.5)], 2)  # may miss id 2
    assert not oracle.check_approx(d2, ids, [(3, 1.5), (1, 0.5)], 2)  # out of order
    assert not oracle.check_approx(d2, ids, [(1, 0.6)], 2)  # wrong distance
    assert not oracle.check_approx(d2, ids, [(1, 0.5), (1, 0.5)], 2)  # repeated id
    assert not oracle.check_approx(d2, ids, [(9, 0.5)], 2)  # unknown id


def test_exact_topk_and_recall():
    ids = np.array([5, 6, 7])
    d2 = np.array([[3.0, 1.0, 1.0]])
    assert oracle.exact_topk(d2, ids, 2) == [[6, 7]]
    assert oracle.recall([6, 7], [7, 5]) == 0.5


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    value, pct = tail(list(range(40)))
    assert value == 29 and pct == 75.0


def test_benchmark_json_lists_every_metric_the_run_emits():
    import json

    from perfbench.workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    layers = {"session.start_s", "functions.l2_sq_pairs_per_s", "client.round_p50_s"}
    for w in WORKLOADS.values():
        layers |= set(w.LAYER_METRICS)
    assert {m["name"] for m in spec["per_layer"]} == layers
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) == set(gen.GENERATORS)
