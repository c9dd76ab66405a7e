"""Round-7: NaN/Inf/null contract on the vector search surface
(VERDICT r6 ask #6).

The reference cannot represent invalid states (raw C double arrays, dim
fixed at construction — pktree.hpp:1223-1250); Spark can, so the contract
is explicit: search raises on NULL-vector / NULL-element / NaN / ±Inf by
default, or drops the row under on_invalid="skip"; GridIndex.build
refuses dirty data outright. These tests pin both modes on every entry
point and prove the skip results equal brute force over the clean subset.
"""
from __future__ import annotations

import random

import pytest

from pyvectorsearch_spark.operators.knn import knn_join, knn_join_blocked, range_join

NAN = float("nan")
INF = float("inf")

BAD_VECTORS = {
    "nan_component": [1.0, NAN, 3.0],
    "pos_inf": [INF, 0.0, 0.0],
    "neg_inf": [0.0, -INF, 0.0],
    "null_element": [1.0, None, 3.0],
    "null_vector": None,
}


def _clean_data(spark, n=20, dim=3, seed=11):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-5, 5) for _ in range(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(spark):
    return spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0])],
        "query_id long, qvec array<double>",
    )


def _expect_invalid_error(fn):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        fn()
    msg = str(exc.value)
    assert "invalid" in msg.lower() and (
        "NaN" in msg or "vector" in msg.lower()
    ), msg


@pytest.mark.parametrize("bad_name", sorted(BAD_VECTORS))
def test_knn_join_raises_on_bad_data(spark, bad_name):
    rows, clean = _clean_data(spark)
    dirty = spark.createDataFrame(
        rows + [(999, BAD_VECTORS[bad_name])],
        "vec_id long, embedding array<double>",
    )
    _expect_invalid_error(
        lambda: knn_join(dirty, _queries(spark), 3).collect()
    )


@pytest.mark.parametrize("bad_name", sorted(BAD_VECTORS))
def test_knn_join_skip_equals_clean_bruteforce(spark, bad_name):
    rows, clean = _clean_data(spark)
    dirty = spark.createDataFrame(
        rows + [(999, BAD_VECTORS[bad_name])],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        tuple(r)
        for r in knn_join(dirty, _queries(spark), 3, on_invalid="skip").collect()
    )
    want = sorted(tuple(r) for r in knn_join(clean, _queries(spark), 3).collect())
    assert got == want and len(want) == 6


@pytest.mark.parametrize("metric", ["cosine", "dot"])
def test_desc_metrics_cannot_rank_garbage_first(spark, metric):
    """NaN sorts as the LARGEST double in Spark — without the guard a NaN
    data row would be rank 1 for every query under desc metrics."""
    rows, clean = _clean_data(spark)
    dirty = spark.createDataFrame(
        rows + [(999, [NAN, NAN, NAN])], "vec_id long, embedding array<double>"
    )
    # non-zero probes: cosine of a zero-norm vector is a (pre-existing)
    # ANSI divide-by-zero, out of scope for the validity contract
    qs = spark.createDataFrame(
        [(0, [0.5, 0.25, 1.0]), (1, [1.0, 1.0, 1.0])],
        "query_id long, qvec array<double>",
    )
    got = knn_join(dirty, qs, 3, metric=metric, on_invalid="skip")
    assert 999 not in {r.neighbor_id for r in got.collect()}


def test_query_side_bad_vector_raises_and_skips(spark):
    _, clean = _clean_data(spark)
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (7, [NAN, 0.0, 0.0])],
        "query_id long, qvec array<double>",
    )
    _expect_invalid_error(lambda: knn_join(clean, qs, 3).collect())
    out = knn_join(clean, qs, 3, on_invalid="skip").collect()
    assert {r.query_id for r in out} == {0}


def test_dim_mismatch_still_raises_loud(spark):
    rows, clean = _clean_data(spark)
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0])], "query_id long, qvec array<double>"
    )
    with pytest.raises(Exception, match="dim mismatch"):
        knn_join(clean, qs, 3).collect()


def test_blocked_kernel_matches_contract(spark):
    rows, clean = _clean_data(spark)
    dirty = spark.createDataFrame(
        rows + [(999, [1.0, NAN, 3.0])], "vec_id long, embedding array<double>"
    )
    _expect_invalid_error(
        lambda: knn_join_blocked(dirty, _queries(spark), 3).collect()
    )
    got = sorted(
        tuple(r)
        for r in knn_join_blocked(
            dirty, _queries(spark), 3, on_invalid="skip"
        ).collect()
    )
    want = sorted(
        tuple(r) for r in knn_join(clean, _queries(spark), 3).collect()
    )
    assert got == want
    # bad QUERY: raise by default, skip drops the probe
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (7, None)], "query_id long, qvec array<double>"
    )
    with pytest.raises(ValueError, match="invalid vector"):
        knn_join_blocked(clean, qs, 3)
    out = knn_join_blocked(clean, qs, 3, on_invalid="skip").collect()
    assert {r.query_id for r in out} == {0}
    # non-long ids keep their types, and an empty probe set returns
    # knn_join's schema
    sdata = spark.createDataFrame(
        [(f"d{i}", v) for i, v in rows], "vec_id string, embedding array<double>"
    )
    sq = spark.createDataFrame(
        [("q0", [0.0, 0.0, 0.0]), ("q1", [1.0, 1.0, 1.0])],
        "query_id string, qvec array<double>",
    )
    for probes in (sq, sq.limit(0)):
        got, want = knn_join_blocked(sdata, probes, 3), knn_join(sdata, probes, 3)
        assert got.dtypes == want.dtypes
        assert sorted(got.collect()) == sorted(want.collect())


def test_range_join_contract(spark):
    rows, clean = _clean_data(spark)
    dirty = spark.createDataFrame(
        rows + [(999, [INF, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    _expect_invalid_error(
        lambda: range_join(dirty, _queries(spark), 4.0).collect()
    )
    got = sorted(
        tuple(r)
        for r in range_join(dirty, _queries(spark), 4.0, on_invalid="skip").collect()
    )
    want = sorted(tuple(r) for r in range_join(clean, _queries(spark), 4.0).collect())
    assert got == want


def test_grid_build_refuses_dirty_data(spark):
    from pyvectorsearch_spark.index.grid import GridIndex

    rows, _ = _clean_data(spark, n=50)
    for bad in [[NAN, 0.0, 0.0], [1.0, None, 2.0], None, [1.0, 2.0]]:
        dirty = spark.createDataFrame(
            rows + [(999, bad)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="invalid vector"):
            GridIndex.build(dirty, dim=3)


def test_grid_knn_probe_contract(spark):
    from pyvectorsearch_spark.index.grid import GridIndex

    rows, clean = _clean_data(spark, n=60)
    idx = GridIndex.build(clean, dim=3)
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (7, [NAN, 0.0, 0.0])],
        "query_id long, qvec array<double>",
    )
    for mode in ("driver", "distributed"):
        _expect_invalid_error(
            lambda m=mode: idx.knn(qs, 3, candidates=m).collect()
        )
        out = idx.knn(qs, 3, candidates=mode, on_invalid="skip").collect()
        assert {r.query_id for r in out} == {0}
        # skip results equal brute force on the clean probe
        want = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in knn_join(clean, _queries(spark).filter("query_id = 0"), 3).collect()
        )
        got = sorted((r.query_id, r.neighbor_id, r.rank) for r in out)
        assert got == want


def test_grid_range_probe_contract(spark):
    from pyvectorsearch_spark.index.grid import GridIndex

    rows, clean = _clean_data(spark, n=60)
    idx = GridIndex.build(clean, dim=3)
    qs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (7, [None, 0.0, 0.0])],
        "query_id long, qvec array<double>",
    )
    for mode in ("driver", "distributed"):
        _expect_invalid_error(
            lambda m=mode: idx.range(qs, 3.0, candidates=m).collect()
        )
        out = idx.range(qs, 3.0, candidates=mode, on_invalid="skip").collect()
        assert {r.query_id for r in out} <= {0}
        want = sorted(
            (r.query_id, r.neighbor_id)
            for r in range_join(
                clean, _queries(spark).filter("query_id = 0"), 3.0
            ).collect()
        )
        got = sorted((r.query_id, r.neighbor_id) for r in out)
        assert got == want


def test_vec_is_finite_expression(spark):
    from pyspark.sql import functions as F

    from pyvectorsearch_spark.functions.vector import vec_is_finite

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [NAN, 2.0]),
            (3, [INF, 2.0]),
            (4, [-INF, 2.0]),
            (5, [None, 2.0]),
            (6, None),
            (7, []),
        ],
        "id long, v array<double>",
    )
    got = {
        r.id: r.ok
        for r in df.select("id", vec_is_finite("v").alias("ok")).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: False, 5: False, 6: False, 7: True}


def test_grid_probe_dim_mismatch_names_the_probe(spark):
    """A 1-d or 3-d probe against a 2-d index raises "dim mismatch" with
    the probe's id in both candidate modes and under either on_invalid:
    numpy bounds would broadcast a 1-d probe silently, and the Column
    bounds read components by index."""
    from pyvectorsearch_spark.index.grid import GridIndex

    _, clean = _clean_data(spark, n=60, dim=2)
    idx = GridIndex.build(clean, dim=2)
    for bad_id, vec in ((41, [0.5]), (42, [0.5, 0.5, 0.5])):
        qs = spark.createDataFrame(
            [(0, [0.0, 0.0]), (bad_id, vec)], "query_id long, qvec array<double>"
        )
        for mode in ("driver", "distributed"):
            for on_invalid in ("error", "skip"):
                kw = dict(candidates=mode, on_invalid=on_invalid)
                for search in (lambda: idx.knn(qs, 3, **kw),
                               lambda: idx.range(qs, 1.0, **kw)):
                    with pytest.raises(Exception, match=rf"dim mismatch.*id={bad_id}"):
                        search().collect()


def test_grid_range_count_guards_its_probes(spark):
    """``range_count`` takes its probes through the same guard as ``knn``
    and ``range``: a NaN probe raises with its id instead of matching no
    cell, and a 1-d probe raises "dim mismatch" with its id instead of an
    index error on its missing component."""
    from pyvectorsearch_spark.index.grid import GridIndex

    _, clean = _clean_data(spark, n=60, dim=2)
    idx = GridIndex.build(clean, dim=2)
    for vec, msg in (([NAN, 0.0], r"invalid query vector.*id=0"),
                     ([0.5], r"vector dim mismatch.*id=0")):
        qs = spark.createDataFrame(
            [(0, vec), (1, [0.0, 0.0])], "query_id long, qvec array<double>"
        )
        with pytest.raises(Exception, match=msg):
            idx.range_count(qs, 10.0).collect()


@pytest.mark.parametrize("bad_name", ["nan_component", "null_vector"])
def test_grid_search_refuses_rows_that_skipped_the_build_census(spark, bad_name):
    """A GridIndex constructed directly over rows (as over streamed,
    ingested rows) never ran build's census: search itself must raise on
    an invalid data row, in both candidate modes."""
    from pyspark.sql import functions as F

    from pyvectorsearch_spark.index.grid import CELL_SEP, GridIndex

    rows, clean = _clean_data(spark, n=60, dim=2)
    built = GridIndex.build(clean, dim=2)
    home = built.df.filter("vec_id = 0").first()["cell"]
    bad = spark.createDataFrame(
        [(999, {"nan_component": [NAN, 0.0], "null_vector": None}[bad_name], home)],
        "vec_id long, embedding array<double>, cell string",
    )
    df = built.df.select("vec_id", "embedding", "cell").unionByName(bad)
    parts = F.split("cell", CELL_SEP)
    stats = df.groupBy("cell").agg(F.count("*").alias("count")).select(
        "cell",
        F.element_at(parts, 1).cast("int").alias("level"),
        F.slice(parts, 2, 2).cast("array<long>").alias("coords"),
        "count",
    )
    idx = GridIndex(
        df=df, stats_df=stats, origin=built.origin, width=built.width,
        dim=2, rank=built.rank, rr=built.rr, ratio=built.ratio,
        fine_level=built.fine_level, id_col="vec_id", vec_col="embedding",
    )
    qs = spark.createDataFrame([(0, rows[0][1])], "query_id long, qvec array<double>")
    for mode in ("driver", "distributed"):
        for search in (lambda: idx.knn(qs, 3, candidates=mode),
                       lambda: idx.range(qs, 1.0, candidates=mode)):
            with pytest.raises(Exception, match=r"invalid vector.*id=999"):
                search().collect()


# ---- one exact-search contract for every vector index (index/search.py) ----

MATRIX_INDEXES = ("grid_driver", "grid_distributed", "ivf_driver", "ivf_distributed",
                  "ivfpq", "sq8", "bq")
MATRIX_CASES = {
    # case: (extra data row, probes, the error it must raise or None)
    "null_data_row": ((1000, None), [(0, [3.0, 3.0])], r"invalid vector.*id=1000"),
    "nan_data_row": ((1000, [NAN, 1.0]), [(0, [3.0, 3.0])], r"invalid vector.*id=1000"),
    "nan_probe": (None, [(0, [3.0, 3.0]), (7, [NAN, 0.0])], r"invalid query vector.*id=7"),
    "wrong_dim_probe": (None, [(0, [3.0, 3.0]), (8, [1.0, 1.0, 1.0])],
                        r"dim mismatch.*id=8"),
    "null_probe_id": (None, [(None, [3.0, 3.0]), (1, [5.5, 2.0])], None),
    "repeated_probe_id": (None, [(4, [3.0, 3.0]), (4, [7.0, 7.5]), (5, [0.0, 0.0])], None),
}
_MATRIX_N = 100
_MATRIX_ROWS = [(i, [float(i % 10), float(i // 10)]) for i in range(_MATRIX_N)]
_MATRIX_SCHEMA = "vec_id long, embedding array<double>"
_matrix_cache: dict = {}


def _cached(key, make):
    if key not in _matrix_cache:
        _matrix_cache[key] = make()
    return _matrix_cache[key]


def _matrix_build(spark, family, extra):
    """The ``family`` index (or, for BQ, the data) over 100 valid 2-d rows
    ``(i, [i%10, i//10])`` plus the row ``extra``, built once per data."""
    from dataclasses import replace

    from pyvectorsearch_spark.index.grid import GridIndex
    from pyvectorsearch_spark.index.ivf import IVFIndex
    from pyvectorsearch_spark.index.pq import IVFPQIndex
    from pyvectorsearch_spark.index.sq import SQ8Index

    if family == "grid" and extra:
        # build's census refuses invalid rows, so the row joins the built
        # index the way a streamed row does: beside row 0, in its cell
        idx = _matrix_build(spark, "grid", None)
        home = idx.df.filter("vec_id = 0").first()["cell"]
        bad = spark.createDataFrame([(*extra, home)], _MATRIX_SCHEMA + ", cell string")
        return replace(idx, df=idx.df.select("vec_id", "embedding", "cell").unionByName(bad))
    data = spark.createDataFrame(_MATRIX_ROWS + ([extra] if extra else []), _MATRIX_SCHEMA)
    build = {
        "grid": lambda: GridIndex.build(data, dim=2, target_occupancy=8),
        "ivf": lambda: IVFIndex.build(data, n_lists=4, seed=42),
        "ivfpq": lambda: IVFPQIndex.build(data, n_lists=2, m=2, ksub=16, seed=42),
        "sq8": lambda: SQ8Index.build(data),
        "bq": lambda: data,
    }[family]
    return _cached((family, repr(extra)), build)


def _matrix_search(idx, name):
    """``name``'s search over ``idx`` at settings under which its exact
    stage scores every row (nprobe = n_lists, rerank ≥ n)."""
    from pyvectorsearch_spark.index.bq import bq_knn

    every = _MATRIX_N + 1
    return {
        "grid_driver": lambda q, k: idx.knn(q, k, candidates="driver"),
        "grid_distributed": lambda q, k: idx.knn(q, k, candidates="distributed"),
        "ivf_driver": lambda q, k: idx.knn(q, k, nprobe=4),
        "ivf_distributed": lambda q, k: idx.knn(q, k, nprobe=4, candidates="distributed"),
        "ivfpq": lambda q, k: idx.knn(q, k, nprobe=2, rerank=every),
        "sq8": lambda q, k: idx.knn(q, k, rerank=every),
        "bq": lambda q, k: bq_knn(idx, q, k, dim=2, rerank=every),
    }[name]


@pytest.mark.parametrize("case", sorted(MATRIX_CASES))
@pytest.mark.parametrize("index", MATRIX_INDEXES)
def test_every_index_keeps_the_search_contract(spark, index, case):
    """Every vector index, at settings where its exact stage scores every
    row, either returns exactly ``knn_join``'s rows or raises the
    contract's error naming the bad id: an invalid data row or probe never
    ranks as a NULL / NaN distance, a NULL probe id is kept, and probes
    sharing an id are ranked together."""
    extra, probes, error = MATRIX_CASES[case]
    idx = _matrix_build(spark, index.split("_")[0], extra)
    search = _matrix_search(idx, index)
    qs = spark.createDataFrame(probes, "query_id long, qvec array<double>")
    if error:
        with pytest.raises(Exception, match=error):
            search(qs, 3).collect()
        return
    want = _cached(case, lambda: sorted(
        repr(tuple(r))
        for r in knn_join(spark.createDataFrame(_MATRIX_ROWS, _MATRIX_SCHEMA), qs, 3).collect()
    ))
    assert sorted(repr(tuple(r)) for r in search(qs, 3).collect()) == want


def test_one_topk_window_under_the_indexes():
    """The indexes and the index-free joins rank through the one window in
    ``index/search.py``: a second ``row_number`` tail is how the copies
    drifted apart before."""
    from pathlib import Path

    import pyvectorsearch_spark

    pkg = Path(pyvectorsearch_spark.__file__).parent
    files = [*sorted((pkg / "index").glob("*.py")), pkg / "operators" / "knn.py"]
    forks = [f.relative_to(pkg).as_posix() for f in files
             if "F.row_number(" in f.read_text() and f.name != "search.py"]
    assert not forks, forks


@pytest.mark.parametrize("family", ["ivf", "ivfpq"])
def test_ivf_build_keeps_every_input_value(spark, family):
    """IVF's assign pass and IVF-PQ's encode pass append their one column to
    the untouched input rows: a NaN component stays NaN (not NULL), a NULL
    vector stays NULL, and the search still refuses the NaN row by id."""
    from pyvectorsearch_spark.index.ivf import IVFIndex
    from pyvectorsearch_spark.index.pq import IVFPQIndex

    rows = _MATRIX_ROWS + [(1000, [NAN, 1.0]), (1001, None)]
    # one partition: the data scan meets id 1000 before the NULL row 1001
    data = spark.createDataFrame(rows, _MATRIX_SCHEMA).coalesce(1)
    if family == "ivf":
        idx = IVFIndex.build(data, n_lists=4, seed=42)
        added, search = ["list_id"], lambda q: idx.knn(q, 3, nprobe=4)
    else:
        idx = IVFPQIndex.build(data, n_lists=2, m=2, ksub=16, seed=42)
        added, search = ["list_id", "pq_code"], lambda q: idx.knn(
            q, 3, nprobe=2, rerank=_MATRIX_N + 2)
    assert idx.df.schema.fields[:2] == data.schema.fields
    assert idx.df.columns == ["vec_id", "embedding", *added]
    got = sorted(repr((r["vec_id"], r["embedding"])) for r in idx.df.collect())
    assert got == sorted(repr(r) for r in rows)
    qs = spark.createDataFrame([(0, [3.0, 3.0])], "query_id long, qvec array<double>")
    with pytest.raises(Exception, match=r"invalid vector.*id=1000"):
        search(qs).collect()


@pytest.mark.parametrize("side", ["data", "query"])
@pytest.mark.parametrize("join", ["knn_join", "range_join"])
def test_index_free_joins_name_the_invalid_row(spark, join, side):
    """The index-free joins' validity error names the invalid side and the
    data row and probe ids, not the vectors: a caller can find the row."""
    rows = _MATRIX_ROWS + ([(1000, [NAN, 1.0])] if side == "data" else [])
    probes = [(0, [3.0, 3.0])] + ([(7, [NAN, 0.0])] if side == "query" else [])
    data = spark.createDataFrame(rows, _MATRIX_SCHEMA)
    qs = spark.createDataFrame(probes, "query_id long, qvec array<double>")
    run = {"knn_join": lambda: knn_join(data, qs, 3),
           "range_join": lambda: range_join(data, qs, 2.0)}[join]
    ids = r"data id=1000, query id=0" if side == "data" else r"data id=\d+, query id=7"
    want = (r"invalid vector \(NULL / NaN / Inf component\) in the " + side + " row: "
            + ids + r"; pass on_invalid='skip'")
    with pytest.raises(Exception, match=want):
        run().collect()
