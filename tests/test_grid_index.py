"""GridIndex correctness: pruned search must EXACTLY equal brute force
(PK-tree search is exact — SURVEY.md §7), including on the reference's own
example workload (dutch cities, kNN k=5 + range r=0.1 from (52.0117, 4.3592),
/root/reference/example_cpp/main.cpp:68-85)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.operators.knn import knn_join, range_join
from pyvectorsearch_spark.sources.tables import load_cities_csv, load_table
from tests.conftest import SF_SMOKE

CITIES_CSV = "/root/reference/example_cpp/dutch_cities.csv"
DELFT = [52.0117, 4.3592]


@pytest.fixture(scope="module")
def cities(spark):
    df = (
        load_cities_csv(spark, CITIES_CSV)
        .withColumn("pt_id", F.monotonically_increasing_id())
        .withColumn("pt", F.array("lat", "lng").cast("array<float>"))
        .select("pt_id", "pt", "city")
        .cache()
    )
    df.count()
    return df


@pytest.fixture(scope="module")
def cities_index(cities):
    return GridIndex.build(cities, vec_col="pt", id_col="pt_id", target_occupancy=8)


@pytest.fixture(scope="module")
def points(spark):
    """229 seeded 2-d points (the cities CSV's row count) uniform over
    perfbench's Netherlands box, with a payload column, for the index tests
    that need a 2-d dataset and not the reference CSV itself."""
    import numpy as np

    from perfbench.gen import GRID_BOX

    rng = np.random.default_rng(229)
    (lat0, lat1), (lon0, lon1) = GRID_BOX
    pts = np.column_stack([rng.uniform(lat0, lat1, 229), rng.uniform(lon0, lon1, 229)])
    rows = [(i, [float(x) for x in p], f"place{i}") for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "pt_id long, pt array<float>, city string").cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def points_index(points):
    return GridIndex.build(points, vec_col="pt", id_col="pt_id", target_occupancy=8)


@pytest.fixture(scope="module")
def delft_probe(spark):
    return spark.createDataFrame([(0, DELFT)], "query_id long, qvec array<float>")


def _pairs(rows):
    return {(r.query_id, r.neighbor_id) for r in rows}


def test_cities_knn_matches_bruteforce(cities, cities_index, delft_probe):
    exact = knn_join(cities, delft_probe, 5, data_id="pt_id", data_vec="pt").collect()
    pruned = cities_index.knn(delft_probe, 5).collect()
    assert _pairs(pruned) == _pairs(exact)
    assert sorted(r.dist for r in pruned) == sorted(r.dist for r in exact)


def test_cities_knn_names_reference_example(cities, cities_index, delft_probe):
    """The reference example prints the 5 nearest cities to Delft's
    coordinates — Delft itself must be rank 1 at distance ~0."""
    out = cities_index.knn(delft_probe, 5, payload=["city"]).collect()
    by_rank = sorted(out, key=lambda r: r.rank)
    assert by_rank[0].city == "Delft"
    assert by_rank[0].dist < 1e-6


def test_cities_range_matches_bruteforce(cities, cities_index, delft_probe):
    exact = range_join(cities, delft_probe, 0.1, data_id="pt_id", data_vec="pt").collect()
    pruned = cities_index.range(delft_probe, 0.1).collect()
    assert _pairs(pruned) == _pairs(exact)
    assert len(pruned) > 0


def test_grid_knn_embeddings_2d(spark):
    """Grid index on the first two embedding dims at sf0.001 — multi-query
    batch, pruned == brute force."""
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
        .cache()
    )
    probes = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    )
    idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
    exact = knn_join(emb, probes, 7, data_id="vec_id", data_vec="p2").collect()
    pruned = idx.knn(probes, 7).collect()
    assert _pairs(pruned) == _pairs(exact)

    r_exact = range_join(emb, probes, 0.05, data_id="vec_id", data_vec="p2").collect()
    r_pruned = idx.range(probes, 0.05).collect()
    assert _pairs(r_pruned) == _pairs(r_exact)


def test_kinstantiation_min_occupancy(points_index):
    """Batch K-instantiation: every non-root cell owns ≥ rank points
    (pktree.hpp:587-635 invariant, batch form)."""
    for cid, level, coords, cnt in points_index.stats:
        if level > 0:
            assert cnt >= points_index.rank, (cid, cnt)


def test_index_prunes_cells(points_index, delft_probe):
    """The pruned kNN scan must touch fewer cells than the index holds
    (otherwise it's brute force with extra steps)."""
    assert len(points_index.stats) > 4
    import numpy as np

    q = np.asarray(DELFT)
    mins, maxs, cnts = points_index._bounds(q)
    order = np.argsort(mins, kind="stable")
    cum = 0
    bound = np.inf
    for pos, i in enumerate(order):
        cum += cnts[i]
        if cum >= 5:
            bound = maxs[order[: pos + 1]].max()
            break
    selected = (mins <= bound).sum()
    assert selected < len(points_index.stats)


def test_index_write_load_roundtrip(tmp_path, spark, points, points_index, delft_probe):
    import glob

    a = _pairs(points_index.knn(delft_probe, 5).collect())

    # small-cell regime (default): compact cell-sorted files, NO per-cell dirs
    path = str(tmp_path / "points_idx")
    points_index.write(path)
    loaded = GridIndex.load(spark, path)
    assert _pairs(loaded.knn(delft_probe, 5).collect()) == a
    assert not glob.glob(f"{path}/data/cell=*")
    assert len(glob.glob(f"{path}/data/*.parquet")) <= 4

    # big-cell regime (forced): directory partitioning for partition pruning
    path2 = str(tmp_path / "points_idx_part")
    points_index.write(path2, partition_rows_threshold=1)
    loaded2 = GridIndex.load(spark, path2)
    assert _pairs(loaded2.knn(delft_probe, 5).collect()) == a
    total_parts = len(glob.glob(f"{path2}/data/cell=*"))
    assert total_parts == len({s[0] for s in points_index.stats})


def test_distributed_build_matches_driver_build(spark, points, delft_probe):
    """The 100 TB coalesce path (no driver-side cell cascade) must return
    the same search results as the driver path and brute force."""
    drv = GridIndex.build(
        points, vec_col="pt", id_col="pt_id", target_occupancy=8,
        coalesce_strategy="driver",
    )
    dist = GridIndex.build(
        points, vec_col="pt", id_col="pt_id", target_occupancy=8,
        coalesce_strategy="distributed",
    )
    # partition validity: every row assigned exactly one cell
    assert dist.df.count() == points.count()
    # occupancy guarantee: every non-root cell owns >= rank points
    assert all(cnt >= dist.rank or lvl == 0 for _, lvl, _, cnt in dist.stats)
    for idx_knn in (drv, dist):
        got = sorted(
            (r.neighbor_id, r.rank)
            for r in idx_knn.knn(delft_probe, 5).collect()
        )
        brute = sorted(
            (r.neighbor_id, r.rank)
            for r in knn_join(
                points, delft_probe, 5, data_id="pt_id", data_vec="pt"
            ).collect()
        )
        assert got == brute
    r_dist = sorted(
        r.neighbor_id for r in dist.range(delft_probe, 0.1).collect()
    )
    r_brute = sorted(
        r.neighbor_id
        for r in range_join(
            points, delft_probe, 0.1, data_id="pt_id", data_vec="pt"
        ).collect()
    )
    assert r_dist == r_brute


@pytest.mark.slow
def test_distributed_candidates_match_bruteforce_many_probes(spark):
    """candidates="distributed": selection runs as a Spark plan (window over
    the scored stats), no queries.collect(), and must equal brute force on a
    large probe TABLE (the 10⁶-probe scale path, exercised here with 10⁴)."""
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
        .cache()
    )
    idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
    # 10_000 deterministic probes: 20 shifted copies of each of the 500 rows.
    probes = (
        emb.crossJoin(spark.range(20).select(F.col("id").alias("s")))
        .select(
            (F.col("vec_id") * 20 + F.col("s")).alias("query_id"),
            F.array(
                F.element_at("p2", 1) + F.col("s") * F.lit(0.01),
                F.element_at("p2", 2) - F.col("s") * F.lit(0.01),
            ).cast("array<double>").alias("qvec"),
        )
        .cache()
    )
    assert probes.count() == 10_000
    got = idx.knn(probes, 3, candidates="distributed")
    want = knn_join(emb, probes, 3, data_id="vec_id", data_vec="p2")
    g = {(r.query_id, r.neighbor_id, r.rank) for r in got.collect()}
    w = {(r.query_id, r.neighbor_id, r.rank) for r in want.collect()}
    assert g == w

    r_got = idx.range(probes.limit(500), 0.05, candidates="distributed")
    r_want = range_join(emb, probes.limit(500), 0.05, data_id="vec_id", data_vec="p2")
    rg = {(r.query_id, r.neighbor_id) for r in r_got.collect()}
    rw = {(r.query_id, r.neighbor_id) for r in r_want.collect()}
    assert rg == rw


def test_distributed_build_never_collects_stats(spark, points, delft_probe):
    """The distributed build + distributed search path must work end-to-end
    WITHOUT materializing the driver-side stats list."""
    dist = GridIndex.build(
        points, vec_col="pt", id_col="pt_id", target_occupancy=8,
        coalesce_strategy="distributed",
    )
    assert dist._local_stats is None  # build collected nothing
    out = dist.knn(delft_probe, 5, candidates="distributed").collect()
    assert dist._local_stats is None  # search collected nothing either
    # payload pass-through on the distributed path (pkmap analog)
    with_payload = dist.knn(
        delft_probe, 5, candidates="distributed", payload=["city"]
    ).collect()
    assert sorted(r.city for r in with_payload)  # column present, non-empty
    assert {(r.query_id, r.neighbor_id) for r in with_payload} == {
        (r.query_id, r.neighbor_id) for r in out
    }
    brute = knn_join(points, delft_probe, 5, data_id="pt_id", data_vec="pt").collect()
    assert {(r.query_id, r.neighbor_id) for r in out} == {
        (r.query_id, r.neighbor_id) for r in brute
    }


def test_distributed_knn_plan_shape(spark):
    """The query-table path's plan contract: stats broadcast to the pair
    builder, no cartesian product anywhere, and ONE hash-partitioning of the
    big pair table on the query id (the explicit repartition) that both
    windows reuse — no second exchange of |Q|x|cells| rows."""
    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
    )
    idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
    probes = emb.limit(100).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    )
    from pyvectorsearch_spark.plans import explain_str

    df = idx.knn(probes, 3, candidates="distributed")
    s = explain_str(df)
    assert "BroadcastExchange" in s, s[:3000]
    assert "CartesianProduct" not in s, s[:3000]
    # three _qid exchanges: the explicit pair-table repartition (the coarse
    # bound aggregate and both candidate windows all sit on it), the
    # ONE-ROW-PER-QUERY bound aggregate's shuffle (map-side combined — |Q|
    # rows, never |Q|x|cells|), and the final top-k window over the scored
    # data rows
    assert s.count("hashpartitioning(_qid") <= 3, s[:3000]
    # the coarse pre-bound must be aggregated map-side (partial_min over
    # _max_d2 before its shuffle), not windowed over the pair table
    assert "partial_min(_max_d2" in s, s[:3000]


def test_distributed_knn_edge_cases(spark, points, points_index):
    """Empty probe set -> empty result with the stable schema; k larger than
    the table -> every point returned once per query."""
    empty = spark.createDataFrame([], "query_id long, qvec array<float>")
    out = points_index.knn(empty, 5, candidates="distributed")
    assert out.columns == ["query_id", "neighbor_id", "dist", "rank"]
    assert out.count() == 0

    probe = spark.createDataFrame([(0, DELFT)], "query_id long, qvec array<float>")
    n = points.count()
    big_k = points_index.knn(probe, n + 100, candidates="distributed")
    assert big_k.count() == n


def test_range_count_equals_row_range_and_uses_stats(spark):
    """Aggregate pushdown: range_count == counting the row-range result,
    and at this radius a non-trivial share of cells is answered from the
    stats table alone (max-corner distance inside the ball)."""
    from pyspark.sql import functions as F

    from pyvectorsearch_spark.index.grid import GridIndex
    from pyvectorsearch_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
    )
    idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    )
    radius = 0.15
    got = {
        r["query_id"]: r["n_in_range"]
        for r in idx.range_count(probes, radius).collect()
    }
    want = {
        r["query_id"]: r["n"]
        for r in idx.range(probes, radius)
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and got
    qs = probes.select(
        F.col("query_id").alias("_qid"), F.col("qvec").alias("_qvec")
    )
    inside = idx._scored_pairs(qs).filter(F.col("_max_d2") <= radius**2).count()
    assert inside > 0  # the stats-only path really fires
