"""Unit/property tests for the exact kNN + range operators (reference
semantics: /root/reference/include/pktree.hpp:948-973, :933-939)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.operators.knn import (
    knn_join,
    knn_join_blocked,
    range_join,
    topk_global,
)
from pyvectorsearch_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def probes(spark, emb):
    return (
        emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .cache()
    )


def brute_force_py(emb_rows, probe_rows, k=None, radius=None):
    """Driver-side python oracle."""
    out = {}
    for qid, q in probe_rows:
        dists = []
        for vid, v in emb_rows:
            d = sum((float(a) - float(b)) ** 2 for a, b in zip(v, q))
            dists.append((d, vid))
        if k is not None:
            dists.sort()
            out[qid] = dists[:k]
        else:
            out[qid] = sorted((d, vid) for d, vid in dists if d <= radius**2)
    return out


@pytest.fixture(scope="module")
def py_data(emb, probes):
    e = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    p = [(r.query_id, list(r.qvec)) for r in probes.collect()]
    return e, p


def test_knn_matches_python_oracle(emb, probes, py_data):
    e, p = py_data
    expect = brute_force_py(e, p, k=5)
    got = knn_join(emb, probes, 5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
    for qid, rows in by_q.items():
        rows.sort()
        assert [nid for _, nid, _ in rows] == [vid for _, vid in expect[qid]]
        for (_, _, d), (ed, _) in zip(rows, expect[qid]):
            assert math.isclose(d, ed, rel_tol=1e-9)


def test_knn_result_size_and_rank(emb, probes):
    got = knn_join(emb, probes, 5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 4
    for rows in by_q.values():
        assert len(rows) == 5
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4, 5]
        rows.sort(key=lambda r: r.rank)
        dists = [r.dist for r in rows]
        assert dists == sorted(dists)  # non-decreasing after sort


def test_knn_monotone_in_k(emb, probes):
    k3 = {(r.query_id, r.neighbor_id) for r in knn_join(emb, probes, 3).collect()}
    k6 = {(r.query_id, r.neighbor_id) for r in knn_join(emb, probes, 6).collect()}
    assert k3 <= k6


def test_blocked_knn_identical_to_window(emb, probes):
    a = knn_join(emb, probes, 5).collect()
    b = knn_join_blocked(emb, probes, 5).collect()
    key = lambda r: (r.query_id, r.rank)
    a.sort(key=key)
    b.sort(key=key)
    assert [(r.query_id, r.neighbor_id, r.rank) for r in a] == [
        (r.query_id, r.neighbor_id, r.rank) for r in b
    ]
    for x, y in zip(a, b):
        assert x.dist == y.dist  # bit-identical after precision fix


def test_range_matches_python_oracle(emb, probes, py_data):
    e, p = py_data
    radius = 1.1
    expect = brute_force_py(e, p, radius=radius)
    got = range_join(emb, probes, radius).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid in expect:
        assert by_q.get(qid, set()) == {vid for _, vid in expect[qid]}
    for r in got:
        assert r.dist <= radius**2  # every result satisfies the predicate


def test_range_monotone_in_radius(emb, probes):
    r1 = {(r.query_id, r.neighbor_id) for r in range_join(emb, probes, 0.9).collect()}
    r2 = {(r.query_id, r.neighbor_id) for r in range_join(emb, probes, 1.2).collect()}
    assert r1 <= r2


def test_topk_global(emb, py_data):
    e, _ = py_data
    q = [0.0] * 64
    expect = sorted(
        (sum(float(a) ** 2 for a in v), vid) for vid, v in e
    )[:10]
    got = topk_global(emb, q, 10, payload=["label"]).collect()
    assert [r.neighbor_id for r in got] == [vid for _, vid in expect]


def test_cosine_metric(emb, probes):
    got = knn_join(emb, probes, 3, metric="cosine").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        # self-similarity = 1.0 is always rank 1
        assert rows[0].neighbor_id == qid
        assert math.isclose(rows[0].dist, 1.0, rel_tol=1e-9)
        dists = [r.dist for r in rows]
        assert dists == sorted(dists, reverse=True)


def test_dim_mismatch_raises(emb, probes):
    """The dim guard rides the distance expression: no extra jobs on the
    happy path, a loud error (not silent NULL-distance garbage) when a
    mismatched probe actually executes."""
    import pytest as _pt
    from pyspark.sql import functions as _F

    bad = probes.withColumn("qvec", _F.slice("qvec", 1, 3))
    with _pt.raises(Exception, match="dim mismatch"):
        knn_join(emb, bad, 3).collect()
    with _pt.raises(Exception, match="dim mismatch"):
        range_join(emb, bad, 1.0).collect()
    with _pt.raises(Exception, match="dim mismatch"):
        topk_global(emb, [0.0] * 3, 5).collect()


def test_public_api_surface(spark):
    """SURVEY §2.5 facade: the reference's 8 entry points, Spark-shaped."""
    import pyvectorsearch_spark as pvs

    df = spark.createDataFrame(
        [(i, [float(i), float(i)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [3.1, 3.1])], "query_id long, qvec array<double>"
    )
    idx = pvs.VectorIndex.build(df, vec_col="embedding", id_col="vec_id")
    got = [r.neighbor_id for r in idx.knn(q, 3).orderBy("rank").collect()]
    brute = [
        r.neighbor_id
        for r in pvs.knn_bruteforce(df, q, 3).orderBy("rank").collect()
    ]
    assert got == brute == [3, 4, 2]
    rng = {r.neighbor_id for r in pvs.range_bruteforce(df, q, 1.6).collect()}
    assert rng == {3, 4, 2}


@pytest.mark.parametrize("metric", ["l2_sq", "cosine", "dot"])
@pytest.mark.parametrize("parts", [1, 3])
def test_blocked_knn_duplicates_straddling_kth(spark, metric, parts):
    """Exact duplicates tied across the k-th neighbour: the blocked kernel
    must hand every tied row to the (dist, neighbor_id) window, so the
    LOWEST ids win exactly as in ``knn_join``."""
    import numpy as np

    k, dim = 5, 8
    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, dim))
    Q = rng.normal(size=(2, dim))
    vecs = [base]
    for q in Q:
        score = {
            "l2_sq": ((base - q) ** 2).sum(1),
            "cosine": -(base @ q) / np.linalg.norm(base, axis=1),
            "dot": -(base @ q),
        }[metric]
        # copies of the (k-1)-th nearest row: ties run from rank k-1 to k+19
        vecs.append(np.repeat(base[np.argsort(score)[k - 2]][None, :], 20, axis=0))
    X = np.vstack(vecs)
    ids = rng.permutation(len(X))  # copies get ids above and below the original
    data = spark.createDataFrame(
        [(int(i), [float(v) for v in x]) for i, x in zip(ids, X)],
        "vec_id long, embedding array<double>",
    ).repartition(parts)
    probes = spark.createDataFrame(
        [(j, [float(v) for v in q]) for j, q in enumerate(Q)],
        "query_id long, qvec array<double>",
    )
    a = knn_join(data, probes, k, metric=metric).collect()
    b = knn_join_blocked(data, probes, k, metric=metric).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
