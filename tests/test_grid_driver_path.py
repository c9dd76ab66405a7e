"""GridIndex driver candidate path: the cached per-index cell boxes give
bounds bit-identical to the closed-form per-cell ``_cell_box`` formula, the
driver ``knn``/``range``/``box`` results equal brute force on a skewed grid
of >1,000 cells."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.operators.knn import knn_join, range_join


def _skewed(n: int, dim: int, seed: int) -> np.ndarray:
    """12 Zipf-sized Gaussian clusters over a 30 % uniform background."""
    rng = np.random.default_rng(seed)
    n_bg = int(n * 0.3)
    w = 1 / np.arange(1, 13) ** 1.2
    sizes = np.maximum((n - n_bg) * w / w.sum(), 1).astype(int)
    centers = rng.uniform(0, 10, (12, dim))
    pts = [c + rng.normal(0, 0.08, (s, dim)) for c, s in zip(centers, sizes)]
    return np.vstack(pts + [rng.uniform(0, 10, (n_bg, dim))])


def _frame(spark, X):
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(rows, "vec_id long, p array<double>").cache()


@pytest.fixture(scope="module")
def skewed2d(spark):
    X = _skewed(6000, 2, 3)
    df = _frame(spark, X)
    idx = GridIndex.build(df, vec_col="p", id_col="vec_id", target_occupancy=4)
    yield X, df, idx
    df.unpersist()


@pytest.fixture(scope="module")
def grid5d(spark):
    X = _skewed(3000, 5, 3)
    df = _frame(spark, X)
    idx = GridIndex.build(df, vec_col="p", id_col="vec_id", target_occupancy=4)
    yield X, idx
    df.unpersist()


def _loop_bounds(idx: GridIndex, q: np.ndarray):
    """The per-cell reference the cached geometry must reproduce bit for bit."""
    mins, maxs, cnts = [], [], []
    for _, level, coords, cnt in idx.stats:
        lo, hi = idx._cell_box(level, coords)
        d_min = np.clip(lo - q, 0, None) + np.clip(q - hi, 0, None)
        mins.append(float((d_min**2).sum()))
        maxs.append(float(np.maximum((q - lo) ** 2, (hi - q) ** 2).sum()))
        cnts.append(cnt)
    return np.array(mins), np.array(maxs), np.array(cnts)


def _probes(X: np.ndarray, n: int, seed: int) -> np.ndarray:
    """Half on data points, half uniform over a box 1.5× the data's on
    every side (so many fall outside the root box)."""
    rng = np.random.default_rng(seed)
    lo, hi = X.min(0), X.max(0)
    span = hi - lo
    out = rng.uniform(lo - 1.5 * span, hi + 1.5 * span, (n - n // 2, X.shape[1]))
    return np.vstack([X[rng.integers(0, len(X), n // 2)], out])


def _assert_bounds_identical(idx: GridIndex, probes: np.ndarray) -> None:
    cells, lo, hi, counts = idx._geometry()
    for i, (cell, level, coords, cnt) in enumerate(idx.stats):
        ref_lo, ref_hi = idx._cell_box(level, coords)
        assert cells[i] == cell and counts[i] == cnt
        assert np.array_equal(lo[i], ref_lo) and np.array_equal(hi[i], ref_hi)
    for q in probes:
        got, ref = idx._bounds(q), _loop_bounds(idx, q)
        for g, r in zip(got, ref):
            assert np.array_equal(g, r)


def test_bounds_bit_identical_2d_multilevel(skewed2d):
    X, _, idx = skewed2d
    assert len({s[1] for s in idx.stats}) > 3  # several levels
    _assert_bounds_identical(idx, _probes(X, 200, 1))


def test_bounds_bit_identical_5d(grid5d):
    X, idx = grid5d
    _assert_bounds_identical(idx, _probes(X, 100, 2))


def test_bounds_bit_identical_negative_coords(skewed2d):
    """A streamed ``clamp=False`` arrival outside the root box files under
    negative / oversized coords; the cached boxes extend the lattice the
    same way the closed form does."""
    X, _, idx = skewed2d
    fine = idx.fine_level
    extra = [
        (f"{fine}_-3_-1", fine, (-3, -1), 2),
        (f"{fine}_-1_9000", fine, (-1, 9000), 1),
        ("1_-2_5", 1, (-2, 5), 4),
    ]
    grown = dataclasses.replace(idx, _local_stats=idx.stats + extra, _geom=None)
    probes = np.vstack([_probes(X, 40, 3), [[-50.0, -50.0], [-1e-3, 1e4]]])
    _assert_bounds_identical(grown, probes)


@pytest.fixture(scope="module")
def probe_frame(spark, skewed2d):
    X = skewed2d[0]
    P = _probes(X, 48, 4)
    rows = [(i, [float(v) for v in p]) for i, p in enumerate(P)]
    return spark.createDataFrame(rows, "query_id long, qvec array<double>")


def test_driver_knn_equals_bruteforce(skewed2d, probe_frame):
    _, df, idx = skewed2d
    assert len(idx.stats) >= 1000
    got = idx.knn(probe_frame, 9, candidates="driver").collect()
    exact = knn_join(df, probe_frame, 9, data_id="vec_id", data_vec="p").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exact))


def test_driver_range_equals_bruteforce(skewed2d, probe_frame):
    _, df, idx = skewed2d
    got = idx.range(probe_frame, 0.3, candidates="driver").collect()
    exact = range_join(df, probe_frame, 0.3, data_id="vec_id", data_vec="p").collect()
    assert len(exact) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, exact))


def test_driver_box_equals_numpy_filter(spark, skewed2d):
    X, _, idx = skewed2d
    rng = np.random.default_rng(5)
    corners = _probes(X, 24, 6)
    half = rng.uniform(0.05, 1.5, corners.shape)
    boxes = [(i, list(c - h), list(c + h)) for i, (c, h) in enumerate(zip(corners, half))]
    qs = spark.createDataFrame(
        [(i, [float(v) for v in lo], [float(v) for v in hi]) for i, lo, hi in boxes],
        "query_id long, qlo array<double>, qhi array<double>",
    )
    got = {(r.query_id, r.neighbor_id) for r in idx.box(qs).collect()}
    exact = {
        (i, j)
        for i, lo, hi in boxes
        for j in np.nonzero(((X >= lo) & (X <= hi)).all(1))[0].tolist()
    }
    assert len(exact) > 0
    assert got == exact
