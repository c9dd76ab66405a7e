"""Round-8: the grid driver-stats ceiling (VERDICT r7 ask #3).

`GridIndex` holds two driver-side conveniences: the lazily-collected
`stats` list (driver candidate selection) and `_level_hist`. Both are
bounded by `_candidates_mode`'s 200,000-cell limit: past it the AUTO mode
must route search through the distributed candidate path and never
collect the stats table. These pins make that dispatch a contract, not a
habit; the 1e6-cell capacity row itself is measured by
`tools/stress_grid_1e6.py` and recorded in SCALING.md.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.operators.knn import knn_join, range_join


@pytest.fixture(scope="module")
def small_idx(spark):
    pts = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 50).cast("double"),
            (F.col("id") / 50).cast("double"),
        ).alias("embedding"),
    )
    return GridIndex.build(pts, dim=2, target_occupancy=4)


def _probes(spark):
    return spark.createDataFrame(
        [(0, [10.0, 10.0]), (1, [40.0, 3.0])],
        "query_id long, qvec array<double>",
    )


class TestAutoModeCeiling:
    def test_auto_picks_driver_under_limit(self, spark, small_idx,
                                           monkeypatch):
        calls = []
        orig = GridIndex._distributed_pairs

        def spy(self, *a, **kw):
            calls.append("distributed")
            return orig(self, *a, **kw)

        monkeypatch.setattr(GridIndex, "_distributed_pairs", spy)
        small_idx.knn(_probes(spark), 3, candidates="auto").collect()
        assert calls == [], "small index routed to distributed under auto"

    def test_auto_flips_to_distributed_over_limit(self, spark, small_idx,
                                                  monkeypatch):
        """Simulate a 1e6-cell stats table via the cached count — the auto
        dispatch must go distributed WITHOUT collecting stats."""
        idx = GridIndex(
            df=small_idx.df, stats_df=small_idx.stats_df,
            origin=small_idx.origin, width=small_idx.width,
            dim=small_idx.dim, rank=small_idx.rank, rr=small_idx.rr,
            ratio=small_idx.ratio, fine_level=small_idx.fine_level,
            id_col=small_idx.id_col, vec_col=small_idx.vec_col,
        )
        idx._stats_count = 1_000_000  # what a deep 100 TB index reports
        calls = []
        orig = GridIndex._distributed_pairs

        def spy(self, *a, **kw):
            calls.append("distributed")
            return orig(self, *a, **kw)

        monkeypatch.setattr(GridIndex, "_distributed_pairs", spy)
        idx.knn(_probes(spark), 3, candidates="auto").collect()
        assert calls == ["distributed"]
        assert idx._local_stats is None, (
            "distributed search collected the stats table"
        )

    def test_range_auto_flips_too(self, spark, small_idx, monkeypatch):
        idx = GridIndex(
            df=small_idx.df, stats_df=small_idx.stats_df,
            origin=small_idx.origin, width=small_idx.width,
            dim=small_idx.dim, rank=small_idx.rank, rr=small_idx.rr,
            ratio=small_idx.ratio, fine_level=small_idx.fine_level,
            id_col=small_idx.id_col, vec_col=small_idx.vec_col,
        )
        idx._stats_count = 1_000_000
        calls = []
        orig = GridIndex._distributed_pairs

        def spy(self, *a, **kw):
            calls.append("distributed")
            return orig(self, *a, **kw)

        monkeypatch.setattr(GridIndex, "_distributed_pairs", spy)
        idx.range(_probes(spark), 2.0, candidates="auto").collect()
        assert calls == ["distributed"]
        assert idx._local_stats is None

    def test_level_hist_never_collects_stats(self, spark, small_idx):
        """The ladder sizing input is a (level -> count) aggregate, cells
        -> ~depth rows; it must not materialize the stats list."""
        idx = GridIndex(
            df=small_idx.df, stats_df=small_idx.stats_df,
            origin=small_idx.origin, width=small_idx.width,
            dim=small_idx.dim, rank=small_idx.rank, rr=small_idx.rr,
            ratio=small_idx.ratio, fine_level=small_idx.fine_level,
            id_col=small_idx.id_col, vec_col=small_idx.vec_col,
        )
        hist = idx._level_hist()
        assert sum(hist.values()) == small_idx.stats_df.count()
        assert idx._local_stats is None

    def test_driver_and_distributed_agree(self, spark, small_idx, monkeypatch):
        a = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in small_idx.knn(
                _probes(spark), 4, candidates="driver"
            ).collect()
        )
        b = sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in small_idx.knn(
                _probes(spark), 4, candidates="distributed"
            ).collect()
        )
        assert a == b
        # knn and range with a payload column, string ids and array<float>
        # probes, one far enough from the data that range ships no pairs
        idx = dataclasses.replace(
            small_idx,
            df=small_idx.df.withColumn("label", F.concat(F.lit("p"), "vec_id")),
        )
        probes = [("a", [10.5, 10.25]), ("b", [40.0, 3.0]), ("far", [900.0, 900.0])]
        qs = spark.createDataFrame(probes, "query_id string, qvec array<float>")
        ids = np.arange(2000)
        pts = np.stack([ids % 50, ids / 50], axis=1).astype(np.float64)
        want_knn, want_range = [], []
        for qid, q in probes:
            d2 = ((pts - np.asarray(q, np.float64)) ** 2).sum(1)
            for r, j in enumerate(np.lexsort((ids, d2))[:4]):
                want_knn.append((qid, int(j), float(d2[j]), r + 1, f"p{j}"))
            want_range += [(qid, int(j), float(d2[j]), f"p{j}")
                           for j in np.flatnonzero(d2 <= 1.5**2)]
        for mode in ("driver", "distributed"):
            got_knn = idx.knn(qs, 4, payload=["label"], candidates=mode)
            got_range = idx.range(qs, 1.5, payload=["label"], candidates=mode)
            assert sorted(map(tuple, got_knn.collect())) == sorted(want_knn)
            assert sorted(map(tuple, got_range.collect())) == sorted(want_range)
        assert {q for q, *_ in want_range} == {"a", "b"}
        # a NULL probe id and two probes sharing id 7, on a small index and
        # with the descent ladder forced: each case equals the brute-force
        # join, which windows the two id-7 probes together
        pts = spark.range(300).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 20).cast("double"), (F.col("id") / 20).cast("double")
            ).alias("embedding"),
        )
        idx = GridIndex.build(pts, dim=2, target_occupancy=4)
        qs = spark.createDataFrame(
            [(None, [5.0, 5.0]), (2, [1.0, 1.0]), (7, [3.0, 3.0]), (7, [15.0, 12.0])],
            "query_id long, qvec array<double>",
        )

        def rows(df):
            return sorted(repr(tuple(r)) for r in df.collect())

        want_knn = {
            k: rows(knn_join(pts, qs, k).select("query_id", "neighbor_id", "dist", "rank"))
            for k in (3, 1000)
        }
        want_range = rows(range_join(pts, qs, 2.0).select("query_id", "neighbor_id", "dist"))
        # range_count too: at r=4 the NULL probe has both whole-inside and
        # boundary cells, whose counts must land in one row
        want_count = rows(range_join(pts, qs, 4.0).groupBy("query_id").count())
        assert rows(idx.range_count(qs, 4.0)) == want_count
        for forced in (False, True):
            if forced:
                monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
                monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)
            assert (idx._n_cells() > GridIndex.COARSE_THRESHOLD) is forced
            for mode in ("driver", "distributed"):
                for k in (3, 1000):
                    assert rows(idx.knn(qs, k, candidates=mode)) == want_knn[k]
                assert rows(idx.range(qs, 2.0, candidates=mode)) == want_range
