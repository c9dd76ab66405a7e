"""Seeded input generators, one per workload.

Each generator is pure numpy + pyarrow: it never touches Spark, so the
inputs do not depend on the program under test. The same seed writes
byte-identical parquet files; the program only ever sees those files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# grid_serve_ingest: lat/lon points, Zipf-sized clusters over a uniform
# background inside a Netherlands-sized box.
GRID_BOX = ((50.75, 53.55), (3.35, 7.25))
GRID_BASE_ROWS = 8000
GRID_CLUSTERS = 24
GRID_BACKGROUND_FRAC = 0.3
GRID_CHUNKS = 48
GRID_CHUNK_ROWS = 200
GRID_KNN_PROBES = 256
GRID_RANGE_PROBES = 32
GRID_RANGE_RADIUS = 0.04  # degrees, Euclidean in (lat, lon)
GRID_INGEST_PROBES = 4

# pipeline_mix: the tables the pipeline subset reads, shaped like the
# driver's TPC-H-ish testdata (same columns and types).
PIPE_EMBEDDINGS = 2000
PIPE_PROBES = 8  # queries.vector probes with the rows vec_id < 8
# Exact copies of each in-cluster probe row: ties at distance 0 that must
# break by id. Copies of other rows are left out on purpose: a duplicate pair
# straddling a probe's k-th neighbour makes knn_join_blocked drop the lower
# id (its per-partition argpartition does not break ties), and every
# request of a workload must succeed.
PIPE_PROBE_COPIES = 2
PIPE_DOCUMENTS = 1000
PIPE_ORDERS = 3000
PIPE_LINEITEMS = 12000
WORDS = (
    "the a data table row column key value join group agg sort merge hash "
    "scan filter query spark stream batch window part line order customer "
    "vector small big fast slow index cell probe range search cluster tree "
    "node leaf point grid level ratio rank insert delete update page block"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_WEIGHTS = (0.38, 0.16, 0.16, 0.15, 0.15)

# functions.l2_sq microbenchmark: PAIR_LEFT x PAIR_RIGHT vector pairs.
PAIR_LEFT = 4096
PAIR_RIGHT = 32
PAIR_DIM = 64


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vec_array(mat: np.ndarray, dtype: pa.DataType) -> pa.Array:
    """(n, d) matrix -> arrow list<dtype> column, without a Python loop."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.reshape(-1), type=dtype))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _mixture(rng, n: int, dim: int, centers: np.ndarray, spread: float):
    """n points around `centers` with Dirichlet cluster weights."""
    w = rng.dirichlet(np.full(len(centers), 2.0))
    lab = rng.choice(len(centers), size=n, p=w)
    pts = centers[lab] + rng.normal(0.0, spread, size=(n, dim))
    return pts, lab


def gen_l2_pairs(seed: int, out_dir: str) -> dict:
    """Left and right vector tables for the ``functions.vector.l2_sq``
    microbenchmark (their cross join is the pair table)."""
    rng = _rng(seed, 0)
    left = rng.standard_normal((PAIR_LEFT, PAIR_DIM)).astype(np.float32)
    right = rng.standard_normal((PAIR_RIGHT, PAIR_DIM)).astype(np.float32)
    _write(pa.table({"a": _vec_array(left, pa.float32())}), f"{out_dir}/pairs_left.parquet")
    _write(pa.table({"b": _vec_array(right, pa.float32())}), f"{out_dir}/pairs_right.parquet")
    return {"pairs": PAIR_LEFT * PAIR_RIGHT}


def _lat_lon(rng, n: int, centers: np.ndarray, sizes: np.ndarray, sigmas: np.ndarray):
    (lat0, lat1), (lon0, lon1) = GRID_BOX
    n_bg = int(n * GRID_BACKGROUND_FRAC)
    lab = rng.choice(len(centers), size=n - n_bg, p=sizes)
    clustered = centers[lab] + rng.normal(size=(n - n_bg, 2)) * sigmas[lab, None]
    bg = np.column_stack([rng.uniform(lat0, lat1, n_bg), rng.uniform(lon0, lon1, n_bg)])
    pts = np.vstack([clustered, bg])
    return pts[rng.permutation(n)]


def gen_grid_serve_ingest(seed: int, out_dir: str) -> dict:
    """base(vec_id, p2 array<double>), landing chunks chunk-NNNNN(vec_id, p2),
    knn_probes / range_probes / ingest_probes(query_id, qvec array<double>)."""
    rng = _rng(seed, 2)
    (lat0, lat1), (lon0, lon1) = GRID_BOX
    centers = np.column_stack([
        rng.uniform(lat0, lat1, GRID_CLUSTERS), rng.uniform(lon0, lon1, GRID_CLUSTERS)
    ])
    zipf = 1.0 / np.arange(1, GRID_CLUSTERS + 1) ** 1.1
    sizes = rng.permutation(zipf / zipf.sum())
    sigmas = rng.uniform(0.01, 0.08, GRID_CLUSTERS)

    def table(ids: np.ndarray, pts: np.ndarray, id_name: str, vec_name: str) -> pa.Table:
        return pa.table({id_name: ids.astype(np.int64), vec_name: _vec_array(pts, pa.float64())})

    base = _lat_lon(rng, GRID_BASE_ROWS, centers, sizes, sigmas)
    _write(table(np.arange(GRID_BASE_ROWS), base, "vec_id", "p2"), f"{out_dir}/base.parquet")
    os.makedirs(f"{out_dir}/chunks", exist_ok=True)
    for c in range(GRID_CHUNKS):
        pts = _lat_lon(rng, GRID_CHUNK_ROWS, centers, sizes, sigmas)
        ids = GRID_BASE_ROWS + c * GRID_CHUNK_ROWS + np.arange(GRID_CHUNK_ROWS)
        _write(table(ids, pts, "vec_id", "p2"), f"{out_dir}/chunks/chunk-{c:05d}.parquet")

    def probes(n: int, name: str) -> None:
        n_out = max(1, n // 16)  # a few probes outside the box: empty space
        inside = _lat_lon(rng, n - n_out, centers, sizes, sigmas)
        outside = np.column_stack([rng.uniform(lat1 + 0.5, lat1 + 2.0, n_out),
                                   rng.uniform(lon1 + 0.5, lon1 + 2.0, n_out)])
        _write(table(np.arange(n), np.vstack([inside, outside]), "query_id", "qvec"),
               f"{out_dir}/{name}.parquet")

    probes(GRID_KNN_PROBES, "knn_probes")
    probes(GRID_RANGE_PROBES, "range_probes")
    probes(GRID_INGEST_PROBES, "ingest_probes")
    return {"base": [GRID_BASE_ROWS, 2], "chunks": [GRID_CHUNKS, GRID_CHUNK_ROWS],
            "knn_probes": GRID_KNN_PROBES, "range_probes": GRID_RANGE_PROBES,
            "ingest_probes": GRID_INGEST_PROBES}


def _timestamps(rng, n: int) -> pa.Array:
    lo = np.datetime64("1992-01-01", "D").astype(np.int64)
    hi = np.datetime64("2001-12-31", "D").astype(np.int64)
    days = rng.integers(lo, hi, size=n)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def gen_pipeline_mix(seed: int, out_dir: str) -> dict:
    """embeddings, documents, orders and lineitem parquet tables with the
    driver testdata's schemas, under ``out_dir`` as an sf directory."""
    rng = _rng(seed, 3)
    centers = rng.normal(0.0, 0.1, size=(8, 64))
    emb, lab = _mixture(rng, PIPE_EMBEDDINGS, 64, centers, 0.08)
    # The vector queries probe with rows vec_id < PIPE_PROBES. The last two
    # probes sit in empty space; the others get exact copies.
    far = rng.normal(size=(2, 64))
    emb[PIPE_PROBES - 2:PIPE_PROBES] = 3.0 * far / np.linalg.norm(far, axis=1, keepdims=True)
    src = np.repeat(np.arange(PIPE_PROBES - 2), PIPE_PROBE_COPIES)
    n_dup = len(src)
    dst = rng.choice(np.arange(PIPE_PROBES, PIPE_EMBEDDINGS), size=n_dup, replace=False)
    emb[dst], lab[dst] = emb[src], lab[src]
    _write(pa.table({
        "vec_id": np.arange(PIPE_EMBEDDINGS, dtype=np.int64),
        "embedding": _vec_array(emb.astype(np.float32), pa.float32()),
        "label": lab.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")

    texts: list[str] = []
    for i in range(PIPE_DOCUMENTS):
        roll = rng.random()
        if texts and roll < 0.05:  # exact duplicate
            texts.append(texts[rng.integers(len(texts))])
        elif texts and roll < 0.15:  # near duplicate: a few words swapped
            words = texts[rng.integers(len(texts))].split()
            for j in rng.choice(len(words), size=min(3, len(words)), replace=False):
                words[j] = WORDS[rng.integers(len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(len(WORDS), size=rng.integers(8, 90))))
    _write(pa.table({
        "doc_id": np.arange(PIPE_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=PIPE_DOCUMENTS, p=LANG_WEIGHTS)],
        "source": [f"src{j}" for j in rng.integers(20, size=PIPE_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    n_cust = PIPE_ORDERS // 10
    _write(pa.table({
        "o_orderkey": np.arange(PIPE_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(n_cust, size=PIPE_ORDERS).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(3, size=PIPE_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, PIPE_ORDERS), 2),
        "o_orderdate": _timestamps(rng, PIPE_ORDERS),
        "o_orderpriority": [
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[j]
            for j in rng.integers(5, size=PIPE_ORDERS)
        ],
    }), f"{out_dir}/orders.parquet")

    n = PIPE_LINEITEMS
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(PIPE_ORDERS, size=n).astype(np.int64),
        "l_partkey": rng.integers(200, size=n).astype(np.int64),
        "l_suppkey": rng.integers(10, size=n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": [("N", "R", "A")[j] for j in rng.integers(3, size=n)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(2, size=n)],
        "l_shipdate": _timestamps(rng, n),
    }), f"{out_dir}/lineitem.parquet")
    return {"embeddings": [PIPE_EMBEDDINGS, 64], "duplicates": n_dup, "documents": PIPE_DOCUMENTS,
            "orders": PIPE_ORDERS, "lineitem": PIPE_LINEITEMS}


GENERATORS = {
    "grid_serve_ingest": gen_grid_serve_ingest,
    "pipeline_mix": gen_pipeline_mix,
}
