"""Size dispatch: the one plan-size gate (``plans.inspect.plan_bytes_below``)
and every site that dispatches on it, plus ``load_rebalanced_index``'s
byte gate on the streamed sidecar (``plans.local._DRIVER_READ_BYTES``).

The gate is fail-closed: only a known Catalyst estimate inside
``(0, bound)`` picks the small-input branch. Each site's two branches must
return identical rows, so each case forces both (bound 0 and 1 << 62) and
compares them; the plans must differ, or the case forced nothing. The
sidecar load forces its driver-side merge and its Spark merge the same way
and pins the driver branch's Spark job count. ``GridIndex.build`` /
``write`` and ``stream_index_ingest``'s micro-batches read a small input
once into Arrow under the same gate; their cases force
both branches through that one setting and pin the driver branch's jobs.
"""
from __future__ import annotations

import os
import re
import types
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index import incremental
from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.index.incremental import load_rebalanced_index
from pyvectorsearch_spark.operators import dedup as dedup_ops
from pyvectorsearch_spark.plans import local as local_io
from pyvectorsearch_spark.plans.inspect import explain_str, plan_bytes_below
from pyvectorsearch_spark.queries import relational
from pyvectorsearch_spark.sources.tables import load_table
from pyvectorsearch_spark.streaming.ingest import stream_index_ingest
from tests.conftest import SF_SMOKE, SF_T2


@pytest.mark.parametrize(
    "case, bound, want",
    [
        ("parquet", 1 << 30, True),  # known and small
        ("parquet", 1, False),  # known, over the bound
        ("driver_built", 1 << 62, False),  # createDataFrame: sentinel
        ("raises", 1 << 62, False),  # no plan to read
    ],
    ids=["known_small", "known_over_bound", "sentinel", "raises"],
)
def test_plan_bytes_below(spark, case, bound, want):
    df = {
        "parquet": lambda: spark.read.parquet(f"{SF_T2}/embeddings.parquet"),
        "driver_built": lambda: spark.createDataFrame(
            [(1, [0.0, 1.0])], "_qid long, _qvec array<double>"
        ),
        "raises": lambda: types.SimpleNamespace(_jdf=None),
    }[case]()
    assert plan_bytes_below(df, bound) is want


def _grid_knn(spark, sf, built):
    """Distributed grid kNN with parquet-derived probes (known estimate);
    ``built`` keeps one index per scale factor across the cases."""
    if sf not in built:
        emb = (
            load_table(spark, sf, "embeddings")
            .withColumn("p2", F.slice("embedding", 1, 2))
            .select("vec_id", "p2")
        )
        idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
        probes = emb.filter(F.col("vec_id") < 64).select(
            F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
        )
        built[sf] = (idx, probes)
    idx, probes = built[sf]
    return idx.knn(probes, 3, candidates="distributed")


def _emb_dups(spark, sf, bound, _):
    emb = load_table(spark, sf, "embeddings")
    out = dedup_ops.embedding_dup_pairs_auto(
        emb,
        min_cosine=0.4,
        gemm_max_bytes=bound,
        model_fn=lambda: dedup_ops.angular_bucket_model(emb, n_lists=16, seed=42),
    )
    return out.select("d1", "d2", F.round("cosine", 6).alias("cosine"))


# site -> (owner, bound attribute or None, df builder(spark, sf, bound,
# built)); a None attribute means the bound is the builder's own argument
SITES = {
    "grid_b0": (
        GridIndex,
        "B0_BROADCAST_MAX_PROBE_BYTES",
        lambda s, sf, _, built: _grid_knn(s, sf, built),
    ),
    "grid_qs": (
        GridIndex,
        "QS_BROADCAST_MAX_BYTES",
        lambda s, sf, _, built: _grid_knn(s, sf, built),
    ),
    "price_quantiles": (
        relational,
        "QUANTILE_AGG_MAX_BYTES",
        lambda s, sf, *_: relational.price_quantiles(s, sf),
    ),
    "embedding_dup_pairs_auto": (dedup_ops, None, _emb_dups),
}


@pytest.fixture(scope="module")
def built():
    return {}


def _plan(df) -> list[str]:
    """The physical operators of the formatted plan, in order."""
    return re.findall(r"^\(\d+\) (.+)$", explain_str(df), re.M)


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_T2], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("site", sorted(SITES))
def test_site_branches_identical(spark, monkeypatch, built, site, sf):
    owner, attr, build = SITES[site]
    got = {}
    # without size-based auto-broadcast, only a dispatch's own hint can
    # make a join a broadcast, so each branch shows in the plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for bound in (0, 1 << 62):
            if attr is not None:
                monkeypatch.setattr(owner, attr, bound)
            df = build(spark, sf, bound, built)
            got[bound] = (sorted(map(tuple, df.collect())), _plan(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    (small_rows, small_plan), (big_rows, big_plan) = got[1 << 62], got[0]
    assert small_plan != big_plan, "the bound did not move the dispatch"
    assert small_rows == big_rows and small_rows


# ---- load_rebalanced_index: driver-side sidecar merge vs Spark merge ----

P2_SCHEMA = "vec_id long, p2 array<float>"


def _emb_p2(spark):
    return (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
    )


def _points(emb):
    """(ids, float32 points) of a ``(vec_id, p2)`` frame, by id."""
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    return ids, np.array([list(r["p2"]) for r in rows], dtype=np.float32)


class _Stream:
    """A rebalanced ``stream_index_ingest`` target fed one landing file
    per micro-batch; ``drain(chunks, **rebalance_kw)`` lands the chunks
    and drains them, so each call can pass its own rebalance options."""

    def __init__(self, spark, root, geom):
        self.spark, self.geom = spark, geom
        self.landing, self.out = str(root / "landing"), str(root / "out")
        self.ck, self.meta = str(root / "ck"), str(root / "meta")
        self.n_files = 0

    def drain(self, chunks, **rebalance_kw):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.landing, exist_ok=True)
        for ids, pts in chunks:
            table = pa.table(
                {"vec_id": pa.array(ids, pa.int64()),
                 "p2": pa.array(list(pts), pa.list_(pa.float32()))}
            )
            pq.write_table(
                table, f"{self.landing}/chunk-{self.n_files:03d}.parquet"
            )
            self.n_files += 1
        g = self.geom
        stream = (
            self.spark.readStream.schema(P2_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.landing)
        )
        assign = lambda df: df.withColumn(  # noqa: E731
            "cell",
            GridIndex._cell_expr(
                "p2", g.origin, g.width, g.fine_level, g.dim, g.rr,
                g.ratio, clamp=False,
            ),
        )
        q = stream_index_ingest(
            stream, assign=assign, out_path=self.out, checkpoint=self.ck,
            rebalance=dict(meta_path=self.meta, **self.geometry(), **rebalance_kw),
        )
        assert q.awaitTermination(120), "drain exceeded 120 s"
        return q

    def geometry(self):
        g = self.geom
        return dict(fine_level=g.fine_level, dim=g.dim, rr=g.rr,
                    ratio=g.ratio, rank=g.rank)

    def load(self):
        g = self.geom
        return load_rebalanced_index(
            self.spark, data_path=self.out, meta_path=self.meta,
            origin=g.origin, width=g.width, id_col="vec_id", vec_col="p2",
            **self.geometry(),
        )


def _chunks(ids, pts, n):
    return [(ids[i::n], pts[i::n]) for i in range(n)]


def _brute_knn(ids, pts, probes, k):
    """Exact kNN in float64, ties broken by id: (query_id, rank, id)."""
    out = []
    for qid, q in probes:
        d2 = ((pts.astype(np.float64) - np.asarray(q, np.float64)) ** 2).sum(1)
        order = np.lexsort((ids, d2))[:k]
        out += [(qid, r + 1, int(ids[j])) for r, j in enumerate(order)]
    return sorted(out)


@pytest.fixture(scope="module")
def rebalanced(spark, tmp_path_factory):
    """A drained sidecar holding every kind of live dir: a Spark-written
    base (batch 0 goes through ``_rebuild_full``: driver_cell_limit=1),
    two leveled runs (fold_every=2 over batches 1-4) and one delta."""
    emb = _emb_p2(spark)
    geom = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8)
    ids, pts = _points(emb)
    chunks = _chunks(ids, pts, 6)
    s = _Stream(spark, tmp_path_factory.mktemp("rebalanced_load"), geom)
    s.drain(chunks[:1], driver_cell_limit=1)
    s.drain(chunks[1:], fold_every=2)
    ptr = incremental.read_pointer(s.meta)
    assert ptr["batch_id"] == 5
    assert ptr["state_base"] is not None and len(ptr["state_runs"]) == 2
    assert os.path.exists(
        os.path.join(incremental._base_dir(s.meta, "state", ptr["state_base"]),
                     "_SUCCESS")
    ), "the base was not written by Spark"
    return s, ids, pts


def test_rebalanced_load_branches_identical(spark, monkeypatch, rebalanced):
    s, ids, pts = rebalanced
    probes = [(int(ids[i]), pts[i].tolist()) for i in (0, 77, 250, 499)]
    probes.append((-1, [float(pts[:, 0].max()) + 1.0, float(pts[:, 1].min())]))
    qdf = spark.createDataFrame(probes, "query_id long, qvec array<double>")
    k = 5
    want = _brute_knn(ids, pts, probes, k)
    got = {}
    for gate in (0, local_io._DRIVER_READ_BYTES):
        monkeypatch.setattr(local_io, "_DRIVER_READ_BYTES", gate)
        idx = s.load()
        local = idx._local_stats is not None
        knn = {
            mode: sorted(
                (r["query_id"], r["rank"], r["neighbor_id"])
                for r in idx.knn(qdf, k, candidates=mode).collect()
            )
            for mode in ("auto", "distributed")
        }
        got[gate] = (
            local,
            sorted(idx.stats),
            sorted(map(tuple, idx.stats_df.collect())),
            sorted(map(tuple, idx.df.select("vec_id", "cell").collect())),
            knn,
        )
    (spark_local, *spark_rows), (drv_local, *drv_rows) = got.values()
    assert (spark_local, drv_local) == (False, True), "the gate forced nothing"
    assert drv_rows == spark_rows
    stats, stats_df_rows, relabeled, knn = drv_rows
    assert [(c, lvl, list(cd), n) for c, lvl, cd, n in stats] == [
        (c, lvl, cd, n) for c, lvl, cd, n in stats_df_rows
    ]
    assert len(relabeled) == len(ids)
    assert knn["auto"] == knn["distributed"] == want


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), read through a job group."""
    sc = spark.sparkContext
    group = f"size-dispatch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rebalanced_load_jobs_flat_in_live_dirs(spark, tmp_path):
    """Under the gate the load runs only the data dir's schema read, and
    load + kNN costs the same at 2 and at 5 live deltas per kind."""
    emb = _emb_p2(spark).filter(F.col("vec_id") < 250)
    geom = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8)
    ids, pts = _points(emb)
    chunks = _chunks(ids, pts, 5)
    qdf = spark.createDataFrame(
        [(int(ids[i]), pts[i].tolist()) for i in (0, 9)],
        "query_id long, qvec array<double>",
    )
    s = _Stream(spark, tmp_path, geom)
    counts = {}
    for upto, new in ((2, chunks[:2]), (5, chunks[2:])):
        s.drain(new)
        ptr = incremental.read_pointer(s.meta)
        live = len(incremental._live_dirs(s.meta, "state", ptr))
        _, load_jobs = _jobs(spark, s.load)
        _, serve_jobs = _jobs(spark, lambda: s.load().knn(qdf, 3).collect())
        counts[upto] = (live, load_jobs, serve_jobs)
    (live2, load2, serve2), (live5, load5, serve5) = counts[2], counts[5]
    assert (live2, live5) == (2, 5)
    assert load2 <= 1 and load5 <= 1, counts
    assert serve2 == serve5, counts


def test_rebalanced_load_over_stats_bound_stays_distributed(
    spark, monkeypatch, rebalanced
):
    """A driver-merged sidecar with more instantiated cells than
    ``GridIndex.DRIVER_STATS_MAX_CELLS`` keeps its stats off the driver
    list, and "auto" still resolves to the distributed search, jobless."""
    s, _, _ = rebalanced
    monkeypatch.setattr(GridIndex, "DRIVER_STATS_MAX_CELLS", 0)
    idx = s.load()
    mode, jobs = _jobs(spark, lambda: idx._candidates_mode("auto"))
    assert idx._local_stats is None and idx._stats_count > 0
    assert (mode, jobs) == ("distributed", 0)


def test_driver_search_jobs(spark, tmp_path):
    """Driver-mode search over a loaded index, probes read from parquet as
    a served index gets them: the per-probe (probe, cell) pair table comes
    from the one probe collect, and its broadcast takes the place of the
    probe table's, so ``knn`` and ``range`` run as many Spark jobs as the
    union-mask + brute-force-join path they replaced (4 and 3)."""
    emb = _emb_p2(spark)
    GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8).write(
        str(tmp_path / "idx")
    )
    idx = GridIndex.load(spark, str(tmp_path / "idx"))
    emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    ).write.parquet(str(tmp_path / "probes"))
    qdf = spark.read.parquet(str(tmp_path / "probes"))
    assert idx._candidates_mode("auto") == "driver"
    knn, knn_jobs = _jobs(spark, lambda: idx.knn(qdf, 5).collect())
    rng, range_jobs = _jobs(spark, lambda: idx.range(qdf, 0.05).collect())
    assert len(knn) == 16 * 5 and rng
    assert (knn_jobs, range_jobs) == (4, 3)


@pytest.mark.parametrize("ladder", [False, True], ids=["small", "ladder"])
def test_distributed_search_jobs(spark, monkeypatch, ladder):
    """Distributed ``knn`` and ``range`` walk one stage loop. Their Spark
    job counts on a small index (no ladder) and with the descent ladder
    forced: ``knn`` runs 10 and 17, as its own descent did before the
    merge. ``range`` runs 7 and 9 where its own descent ran 6 and 9. On
    the small index the extra job is the probe table's broadcast for the
    final probe re-join. Only ``knn`` checkpoints the coarse stages, as it
    reads each stage's pair table twice; ``range`` reads each once.
    Size-based auto-broadcast is off, because AQE's runtime join rewrites
    make the counts vary from run to run; only the search's own broadcast
    hints remain."""
    emb = _emb_p2(spark)
    idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8)
    if ladder:
        monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
        monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)
    assert (idx._n_cells() > GridIndex.COARSE_THRESHOLD) is ladder
    qdf = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        knn, knn_jobs = _jobs(
            spark, lambda: idx.knn(qdf, 5, candidates="distributed").collect()
        )
        rng, range_jobs = _jobs(
            spark, lambda: idx.range(qdf, 0.05, candidates="distributed").collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(knn) == 16 * 5 and rng
    assert (knn_jobs, range_jobs) == {False: (10, 7), True: (17, 9)}[ladder]


# ---- GridIndex build / write / streamed ingest: driver branch vs Spark ----

# both settings of the one driver-read bound: 0 forces every Spark branch
GATES = (0, local_io._DRIVER_READ_BYTES)


def _write_points(path, ids, pts, value_type):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    vecs = [None if p is None else list(p) for p in pts]
    pq.write_table(
        pa.table({"vec_id": pa.array(ids, pa.int64()),
                  "v": pa.array(vecs, pa.list_(value_type))}),
        path,
    )


def test_cell_coords_bit_identical_to_cell_expr(spark):
    """``_cell_coords`` + ``_cell_ids`` spell every point's cell exactly as
    ``_cell_expr`` does, clamped and not, from float32 and float64 vectors:
    points on cell edges, the max point of the box (open upper edge),
    -0.0, points outside the box and a random spread."""
    import pyarrow as pa

    from pyvectorsearch_spark.index.grid import _cell_coords, _cell_ids

    origin, width, level, dim, rr, ratio = [0.0, -0.3], 1.7 * (1 + 1e-9), 5, 2, 2, 2
    s = [(level * rr + dim - c - 1) // dim for c in range(dim)]
    w = [width * ratio ** -s_c for s_c in s]
    edges = [
        [origin[0] + i * w[0], origin[1] + j * w[1]]
        for i in range(0, 2 ** s[0] + 1, 3) for j in range(0, 2 ** s[1] + 1, 5)
    ]
    special = [
        [origin[0] + 1.7, origin[1] + 1.7],  # the data's max corner
        [-0.0, -0.0], [-0.0, 0.0], [0.0, origin[1]],
        [-0.25, -1.0], [1.7 * 3, 4.0], [-7.5, 9.25],  # outside the box
    ]
    rng = np.random.default_rng(7)
    spread = rng.uniform(-0.5, 2.5, size=(500, 2)).tolist()
    pts = edges + special + spread
    for value_type, np_type in ((pa.float32(), np.float32), (pa.float64(), np.float64)):
        pts_t = np.asarray(pts, dtype=np_type)
        df = spark.createDataFrame(
            [(i, [float(x) for x in p]) for i, p in enumerate(pts_t)],
            f"i long, v array<{'float' if np_type is np.float32 else 'double'}>",
        )
        for clamp in (True, False):
            want = [
                r["cell"] for r in df.select(
                    "i", GridIndex._cell_expr("v", origin, width, level, dim, rr, ratio,
                                              clamp=clamp).alias("cell")
                ).orderBy("i").collect()
            ]
            coords = _cell_coords(pts_t.astype(np.float64), origin, width, level, dim,
                                  rr, ratio, clamp=clamp)
            assert _cell_ids(level, coords) == want, (value_type, clamp)


def _payload_input(spark, root):
    """A parquet input with payload columns beside an ``array<float>``
    vector: string, timestamp, decimal and struct."""
    import datetime
    import decimal

    rng = np.random.default_rng(3)
    pts = rng.normal(size=(400, 2)).astype(np.float32)
    rows = [
        (i, [float(x) for x in p], f"name-{i}" if i % 7 else None,
         datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
         decimal.Decimal(i) / 4, (i % 5, f"t{i % 3}"))
        for i, p in enumerate(pts)
    ]
    spark.createDataFrame(
        rows, "vec_id long, p2 array<float>, name string, ts timestamp, "
        "price decimal(12,2), tag struct<a:int,b:string>",
    ).write.parquet(f"{root}/input")
    return pts


def test_build_write_load_branches_identical(spark, monkeypatch, tmp_path):
    """``build`` + ``write`` + ``load`` through the driver branch (Arrow
    read, numpy cells, pyarrow writes) and through the Spark branch give
    the same geometry, stats, (id, cell) rows, payload values, file
    schemas and kNN rows."""
    _payload_input(spark, tmp_path)
    qdf = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.5, -0.5]), (2, [9.0, 9.0])],
        "query_id long, qvec array<double>",
    )
    got = {}
    for gate in GATES:
        monkeypatch.setattr(local_io, "_DRIVER_READ_BYTES", gate)
        out = str(tmp_path / f"idx{gate}")
        idx = GridIndex.build(
            spark.read.parquet(str(tmp_path / "input")), vec_col="p2",
            id_col="vec_id", target_occupancy=8,
        )
        idx.write(out)
        loaded = GridIndex.load(spark, out)
        data = spark.read.parquet(f"{out}/data")
        stats = spark.read.parquet(f"{out}/stats")
        got[gate] = (
            idx._built is not None,
            (idx.origin, idx.width, idx.fine_level, idx.dim),
            sorted(idx.stats),
            sorted(loaded.stats),
            sorted(map(tuple, stats.collect())),
            sorted(map(tuple, data.select("vec_id", "cell").collect())),
            sorted(map(tuple, data.drop("cell").collect())),
            (data.schema, stats.schema),
            sorted(map(tuple, loaded.knn(qdf, 4, payload=["name", "price"]).collect())),
        )
    (spark_built, *spark_rows), (drv_built, *drv_rows) = got.values()
    assert (spark_built, drv_built) == (False, True), "the gate forced nothing"
    assert drv_rows == spark_rows
    assert len(drv_rows[4]) == 400 and len(drv_rows[-1]) == 12


def test_build_write_load_jobs(spark, tmp_path):
    """Under the gate, reading a parquet input, building, writing and
    loading the index runs 4 Spark jobs: the input's schema read, the one
    Arrow read and ``load``'s two parquet schema reads (14 through Spark)."""
    _payload_input(spark, tmp_path)
    out = str(tmp_path / "idx")

    def lifecycle():
        src = spark.read.parquet(str(tmp_path / "input"))
        GridIndex.build(src, vec_col="p2", id_col="vec_id").write(out)
        return GridIndex.load(spark, out)

    idx, jobs = _jobs(spark, lifecycle)
    assert idx._local_stats and jobs <= 4, jobs


@pytest.mark.parametrize(
    "case",
    ["empty", "null_vector", "null_component", "nan", "inf", "wrong_dim",
     "first_row_null"],
)
def test_build_census_branches_identical(spark, monkeypatch, tmp_path, case):
    """Both build branches refuse the same inputs with the same ValueError
    and bad-row count. ``first_row_null`` (dim not given, the first row's
    vector NULL) takes dim from the first non-NULL vector and counts the
    NULL row."""
    import pyarrow as pa

    from pyvectorsearch_spark.index import grid

    ids = list(range(20))
    pts = [[float(i), float(i % 3), 1.0] for i in ids]
    bad = {
        "empty": None,
        "null_vector": [None, None],
        "null_component": [[1.0, None, 2.0]],
        "nan": [[float("nan"), 0.0, 0.0]],
        "inf": [[0.0, float("-inf"), 0.0], [float("inf"), 0.0, 1.0]],
        "wrong_dim": [[1.0, 2.0]],
        "first_row_null": [None],
    }[case]
    if bad is None:
        ids, pts = [], []
    elif case == "first_row_null":
        ids, pts = [-1] + ids, bad + pts
    else:
        ids, pts = ids + [100 + j for j in range(len(bad))], pts + bad
    path = str(tmp_path / "in" / "part-0.parquet")
    _write_points(path, ids, pts, pa.float64())
    want = "empty DataFrame" if bad is None else f": {len(bad)} row\\(s\\) have an invalid"
    census_calls = []
    real = grid._census_arrow
    monkeypatch.setattr(
        grid, "_census_arrow", lambda *a: census_calls.append(1) or real(*a)
    )
    msgs = []
    for gate in GATES:
        monkeypatch.setattr(local_io, "_DRIVER_READ_BYTES", gate)
        with pytest.raises(ValueError, match=want) as err:
            GridIndex.build(spark.read.parquet(os.path.dirname(path)), vec_col="v",
                            dim=None if case == "first_row_null" else 3)
        msgs.append(str(err.value))
    assert census_calls == [1], "the gate forced nothing"
    assert msgs[0] == msgs[1]


def test_stream_ingest_branches_identical(spark, monkeypatch, tmp_path):
    """A drain whose micro-batches go through the driver branch (one Arrow
    read feeding a pyarrow write and the rebalance counts) leaves the same
    batch rows, sidecar state and mapping as the Spark branch, with one
    data file per batch, and its ingested index answers kNN the same."""
    import glob

    emb = _emb_p2(spark).filter(F.col("vec_id") < 300)
    geom = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8)
    ids, pts = _points(emb)
    streams = {}
    for gate in GATES:
        monkeypatch.setattr(local_io, "_DRIVER_READ_BYTES", gate)
        streams[gate] = _Stream(spark, tmp_path / f"gate{gate}", geom)
        streams[gate].drain(_chunks(ids, pts, 3))
    probes = [(int(ids[i]), pts[i].tolist()) for i in (0, 99, 201)]
    qdf = spark.createDataFrame(probes, "query_id long, qvec array<double>")
    got = {}
    for gate, s in streams.items():
        files = [len(glob.glob(f"{d}/*.parquet")) for d in sorted(glob.glob(f"{s.out}/ingest_batch=*"))]
        got[gate] = (
            files,
            sorted(map(tuple, spark.read.parquet(s.out).collect())),
            sorted(map(tuple, incremental.read_state(spark, s.meta).collect())),
            sorted(map(tuple, incremental.read_mapping(spark, s.meta).collect())),
            sorted((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in s.load().knn(qdf, 5).collect()),
        )
    (spark_files, *spark_rows), (drv_files, *drv_rows) = got.values()
    assert drv_files == [1, 1, 1] and spark_files != drv_files, (spark_files, drv_files)
    assert drv_rows == spark_rows
    assert len(drv_rows[0]) == len(ids)
    assert drv_rows[-1] == _brute_knn(ids, pts, probes, 5)


def test_stream_chunk_jobs(spark, tmp_path):
    """Under the gate one 200-row micro-batch runs 1 Spark job and reads
    its rows once (the Spark branch: 5 jobs, 600 rows). The stream runs its
    jobs in the job group named by its run id."""
    emb = _emb_p2(spark).filter(F.col("vec_id") < 400)
    geom = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=8)
    ids, pts = _points(emb)
    s = _Stream(spark, tmp_path, geom)
    for chunk in _chunks(ids, pts, 2):
        q = s.drain([chunk])
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        assert [p.numInputRows for p in batches] == [200]
        assert len(jobs) <= 2, len(jobs)
