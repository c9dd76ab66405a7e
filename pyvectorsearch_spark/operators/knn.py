"""Exact k-NN and range search — the reference's entire query surface.

Reference semantics (all exact, squared-L2):

- ``search_knn(p, k, result, sort)``: exact k nearest neighbors
  (``/root/reference/include/pktree.hpp:948-973``). Its bounded
  replace-worst-if-better loop (``:1000-1032``) is semantically
  ``row_number() OVER (PARTITION BY query ORDER BY dist) <= k``, the one
  top-k window every search shares (``index/search.py::topk``).
- ``search_range(p, r, result)``: all points with dist ≤ r
  (``/root/reference/include/pktree.hpp:933-939``), a θ-join with the
  predicate ``dist_sq <= r²`` (the reference squares the radius at ``:938``).

Spark-first design:

- Both searches ARE joins (SURVEY.md §2.4). The query set is small relative to
  the data, so it is **broadcast** — the big table never shuffles for the join
  itself.
- ``knn_join`` (correctness anchor): broadcast nested-loop join + distance
  expression + per-query window top-k. One shuffle, keyed by query_id.
- ``knn_join_blocked`` (scale path): per-partition numpy top-k via
  ``mapInPandas`` — each input partition emits at most q×k candidate rows, so
  the only shuffle moves O(partitions · q · k) rows instead of O(n · q).
  On a 1000-executor cluster over 100 TB this is the difference between a
  multi-TB shuffle and a few MB. Results are identical to ``knn_join``.
- ``range_join``: broadcast join + filter; predicate evaluates in whole-stage
  codegen, Catalyst prunes columns at the scan.

The index-accelerated searches (``pyvectorsearch_spark.index``) build
candidates and finish them in the exact-search tail of ``index/search.py``;
these index-free joins know no index ``dim``, so they keep their per-pair
guards below. Brute force is semantically complete because PK-tree search
is exact (SURVEY.md §7).
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyvectorsearch_spark.functions.vector import cosine_sim, dot, l2_sq, vec_is_finite
from pyvectorsearch_spark.functions.lits import lit_double_array
from pyvectorsearch_spark.index.search import check_on_invalid, topk

METRICS = {"l2_sq", "cosine", "dot"}


def _dim_guarded(score: Column, data_vec: Column, query_vec: Column) -> Column:
    """Row-level dimensionality guard compiled INTO the distance expression —
    the Spark analog of the reference's fixed-at-construction ``dim``
    (``include/pktree.hpp:1223-1250``). Without it a mismatched probe
    silently produces NULL distances (``zip_with`` pads with nulls) which
    sort first and return garbage neighbors. Riding the expression costs a
    per-row size comparison inside codegen and ZERO extra Spark jobs per
    search call (an eager ``.first()`` probe would launch two)."""
    return F.when(F.size(data_vec) == F.size(query_vec), score).otherwise(
        F.raise_error(
            F.concat(
                F.lit("vector dim mismatch: data dim="),
                F.size(data_vec).cast("string"),
                F.lit(", query dim="),
                F.size(query_vec).cast("string"),
            )
        )
    )


def _validity_guarded(
    score: Column, data_vec: Column, query_vec: Column, on_invalid: str
) -> Column:
    """NaN/Inf/null-element contract (r7, VERDICT r6 ask #6), compiled into
    the distance expression like ``_dim_guarded``. The reference's raw C
    arrays cannot hold NULLs, so Spark must choose explicitly:

    - ``on_invalid="error"`` (default): any NULL vector, NULL element, NaN
      or ±Inf component on either side raises with a descriptive message —
      a 100 TB search never silently ranks garbage.
    - ``on_invalid="skip"``: the distance is nulled and the row dropped
      from results (callers filter ``dist IS NOT NULL``) — documented
      null-out for pipelines that tolerate dirty rows.

    Without the guard, a NULL element nulls the distance (sorts FIRST under
    Spark's asc-nulls-first → rank-1 garbage) and NaN sorts as the largest
    double (first under desc ordering for cosine/dot)."""
    check_on_invalid(on_invalid)
    ok = vec_is_finite(data_vec) & vec_is_finite(query_vec)
    if on_invalid == "skip":
        return F.when(ok, score)
    return F.when(ok, score).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "invalid vector (NULL / NaN / Inf component) in search; "
                    "pass on_invalid='skip' to drop such rows. data="
                ),
                F.coalesce(data_vec.cast("string"), F.lit("NULL")),
                F.lit(", query="),
                F.coalesce(query_vec.cast("string"), F.lit("NULL")),
            )
        )
    )


def _distance(metric: str, data_vec: Column, query_vec: Column) -> tuple[Column, bool]:
    """Return (score column, ascending?) for a metric."""
    if metric == "l2_sq":
        return l2_sq(data_vec, query_vec), True
    if metric == "cosine":
        return cosine_sim(data_vec, query_vec), False
    if metric == "dot":
        return dot(data_vec, query_vec), False
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    data_id: str = "vec_id",
    data_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    metric: str = "l2_sq",
    payload: Iterable[str] = (),
    on_invalid: str = "error",
) -> DataFrame:
    """Exact k-NN join: for every query row, the k nearest data rows.

    Equivalent to the reference's ``search_knn`` with ``sort=true``
    (``include/pktree.hpp:948-973``) run for a batch of query points; ties
    broken by data id so results are deterministic.

    Validity contract (r7): a NULL vector, NULL element, NaN or ±Inf
    component on either side raises by default; ``on_invalid="skip"``
    drops such rows from the candidate space instead (see
    ``_validity_guarded``). Dim-mismatched rows always raise.

    Returns ``(query_id, neighbor_id, dist, rank, *payload)``.
    """
    d = data.select(
        F.col(data_id).alias("neighbor_id"),
        F.col(data_vec).alias("_dvec"),
        *[F.col(c) for c in payload],
    )
    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec"))
    score, asc = _distance(metric, F.col("_dvec"), F.col("_qvec"))
    score = _dim_guarded(score, F.col("_dvec"), F.col("_qvec"))
    score = _validity_guarded(score, F.col("_dvec"), F.col("_qvec"), on_invalid)
    pairs = d.crossJoin(F.broadcast(q)).withColumn("dist", score)
    if on_invalid == "skip":
        # null dist = invalid row; drop BEFORE ranking so it can't eat a rank
        pairs = pairs.filter(F.col("dist").isNotNull())
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("neighbor_id").asc()]
    return topk(pairs, "query_id", order, k).select(
        "query_id", "neighbor_id", "dist", "rank", *payload
    )


def knn_join_blocked(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    data_id: str = "vec_id",
    data_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    metric: str = "l2_sq",
    on_invalid: str = "error",
) -> DataFrame:
    """Exact k-NN join, two-phase: numpy partial top-k per input partition
    (Arrow-batched, BLAS matrix multiply), then a tiny global window.

    Phase 1 is map-side only — no shuffle touches the full pair space. The
    final window shuffles ≤ partitions·q·k rows, plus any rows tied with a
    partition's k-th score within rounding. This is the plan that holds at
    100 TB; results match ``knn_join`` exactly (same double math, ties by
    neighbor_id, duplicates straddling the k-th neighbor included).

    Validity contract (r7) as in ``knn_join``: NULL/NaN/Inf on either side
    raises by default; ``on_invalid="skip"`` drops invalid QUERY rows at
    the driver and invalid DATA rows inside the kernel before the BLAS
    block (NaN would otherwise poison whole score columns).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    check_on_invalid(on_invalid)
    q_rows = queries.select(query_id, query_vec).collect()
    qids, qmat = [], []
    for r in q_rows:
        vec = None if r[1] is None else list(r[1])
        bad = vec is None or any(v is None for v in vec) or not np.isfinite(
            np.asarray(vec, dtype=np.float64)
        ).all()
        if bad:
            if on_invalid == "error":
                raise ValueError(
                    "invalid vector (NULL / NaN / Inf component) in query "
                    f"{r[0]!r}; pass on_invalid='skip' to drop such rows"
                )
            continue
        qids.append(r[0])
        qmat.append(vec)
    # the candidate and empty-result schemas carry the input id types
    ids = StructType([
        StructField("query_id", queries.schema[query_id].dataType),
        StructField("neighbor_id", data.schema[data_id].dataType),
        StructField("dist", DoubleType()),
    ])
    if not qids:
        return data.sparkSession.createDataFrame(
            [], StructType([*ids.fields, StructField("rank", IntegerType(), False)])
        )
    sc = data.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat, k, metric, on_invalid))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qmat_, k_, metric_, on_invalid_ = bq.value
        Q = np.asarray(qmat_, dtype=np.float64)  # (q, dim)
        qq = (Q * Q).sum(axis=1)
        qn = np.sqrt(qq)
        qarr = np.asarray(qids_)
        # 8·(dim+2)·eps × a score's magnitude bounds the BLAS rounding plus
        # the canonical re-score's rounding of any two scores
        tol_unit = 8 * (Q.shape[1] + 2) * np.finfo(np.float64).eps
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = [
                None
                if v is None
                else np.asarray(v, dtype=np.float64)
                for v in pdf["_dvec"]
            ]
            invalid = [
                v is None or not np.isfinite(v).all() for v in vecs
            ]
            if any(invalid):
                if on_invalid_ == "error":
                    bad_id = pdf["neighbor_id"].iloc[invalid.index(True)]
                    raise ValueError(
                        "invalid vector (NULL / NaN / Inf component) in data "
                        f"row {bad_id!r}; pass on_invalid='skip' to drop"
                    )
                keep = [not b for b in invalid]
                pdf = pdf[keep]
                vecs = [v for v, ok in zip(vecs, keep) if ok]
                if not len(pdf):
                    continue
            dims = {len(v) for v in vecs}
            if dims != {Q.shape[1]}:
                raise ValueError(
                    f"vector dim mismatch: data dims {sorted(dims)}, "
                    f"query dim {Q.shape[1]}"
                )
            X = np.asarray(vecs)
            ids = pdf["neighbor_id"].to_numpy()
            xx = (X * X).sum(axis=1)
            if metric_ == "l2_sq":
                # ‖x‖² + ‖q‖² − 2x·q can lose precision; expand explicitly per
                # query block to keep parity with the sequential expression.
                score, asc = xx[:, None] - 2.0 * (X @ Q.T) + qq[None, :], True
                scale = xx.max() + qq
            elif metric_ == "dot":
                score, asc, scale = X @ Q.T, False, np.sqrt(xx.max() * qq)
            else:  # cosine; a zero-norm row scores NaN and ranks last
                score, asc, scale = (X @ Q.T) / (np.sqrt(xx)[:, None] * qn[None, :]), False, 1.0
            kk = min(k_, len(pdf))
            s = score if asc else -score
            s = np.where(np.isnan(s), np.inf, s)
            # Keep EVERY row within the rounding margin of the k-th BLAS
            # score, not just k of them: rows tied (or near-tied) at the k
            # boundary may round in either order here, and only the
            # canonical re-score + the (dist, neighbor_id) window below can
            # pick the lower id among them.
            kth = np.partition(s, kk - 1, axis=0)[kk - 1]  # (q,)
            rows, cols = np.nonzero(s <= kth + tol_unit * scale)
            yield pd.DataFrame(
                {"query_id": qarr[cols], "neighbor_id": ids[rows], "dist": score[rows, cols]}
            )

    d = data.select(F.col(data_id).alias("neighbor_id"), F.col(data_vec).alias("_dvec"))
    cand = d.mapInPandas(local_topk, schema=ids)
    asc = metric == "l2_sq"
    order = [F.col("dist").asc() if asc else F.col("dist").desc(), F.col("neighbor_id").asc()]
    exact = knn_precision_fix(data, cand, metric, data_id, data_vec, query_id, query_vec, queries)
    return topk(exact, "query_id", order, k).select("query_id", "neighbor_id", "dist", "rank")


def knn_precision_fix(
    data: DataFrame,
    cand: DataFrame,
    metric: str,
    data_id: str,
    data_vec: str,
    query_id: str,
    query_vec: str,
    queries: DataFrame,
) -> DataFrame:
    """Recompute candidate distances with the canonical sequential expression
    so the blocked path returns bit-identical distances to ``knn_join``
    (BLAS reassociates floating-point sums; candidates are unaffected but the
    reported value must match the oracle)."""
    d = data.select(F.col(data_id).alias("neighbor_id"), F.col(data_vec).alias("_dvec"))
    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec"))
    joined = (
        cand.select("query_id", "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .join(d, "neighbor_id")
    )
    score, _ = _distance(metric, F.col("_dvec"), F.col("_qvec"))
    return joined.withColumn("dist", score).select("query_id", "neighbor_id", "dist")


def range_join(
    data: DataFrame,
    queries: DataFrame,
    radius: float,
    *,
    data_id: str = "vec_id",
    data_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    payload: Iterable[str] = (),
    on_invalid: str = "error",
) -> DataFrame:
    """Exact ε-range join: all data rows within Euclidean ``radius`` of each
    query. Mirrors ``search_range`` (``include/pktree.hpp:933-939``): the
    radius is Euclidean and squared internally (``:938``), the emitted ``dist``
    is squared L2 like the reference's result pairs.

    Validity contract (r7) as in ``knn_join``: NULL/NaN/Inf raises by
    default, ``on_invalid="skip"`` drops the row (a NULL distance can
    never pass ``dist <= r²``).

    Returns ``(query_id, neighbor_id, dist, *payload)``.
    """
    d = data.select(
        F.col(data_id).alias("neighbor_id"),
        F.col(data_vec).alias("_dvec"),
        *[F.col(c) for c in payload],
    )
    q = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec"))
    pairs = d.crossJoin(F.broadcast(q)).withColumn(
        "dist",
        _validity_guarded(
            _dim_guarded(
                l2_sq(F.col("_dvec"), F.col("_qvec")), F.col("_dvec"), F.col("_qvec")
            ),
            F.col("_dvec"),
            F.col("_qvec"),
            on_invalid,
        ),
    )
    return pairs.filter(F.col("dist") <= float(radius) ** 2).select(
        "query_id", "neighbor_id", "dist", *payload
    )


def topk_global(
    data: DataFrame,
    query_vec: list[float],
    k: int,
    *,
    data_id: str = "vec_id",
    data_vec: str = "embedding",
    metric: str = "l2_sq",
    payload: Iterable[str] = (),
) -> DataFrame:
    """Single-probe top-k — the reference example's usage pattern
    (``example_cpp/main.cpp:68-72``: one key, k=5, sorted). Spark compiles
    ``orderBy().limit(k)`` to ``TakeOrderedAndProject``: per-partition top-k
    then a driver-side merge, no full sort, no shuffle."""
    qcol = lit_double_array(query_vec).cast("array<double>")
    score, asc = _distance(metric, F.col(data_vec), qcol)
    score = _dim_guarded(score, F.col(data_vec), qcol)
    out = data.withColumn("dist", score)
    order = F.col("dist").asc() if asc else F.col("dist").desc()
    return out.orderBy(order, F.col(data_id).asc()).limit(k).select(
        F.col(data_id).alias("neighbor_id"), "dist", *payload
    )


def mmr_rerank(
    cand: DataFrame,
    sims: DataFrame,
    *,
    id_col: str = "id",
    rel_col: str = "rel_r",
    k: int = 5,
    lam: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick ``k`` results maximizing
    lam * relevance - (1 - lam) * max-similarity-to-already-selected — the
    standard diversified top-k that stops near-duplicate results from
    filling the page.

    ``cand`` is the BOUNDED candidate list (top-N from any ANN/BM25 stage;
    N is a re-rank depth like 15-100, never the corpus) with a rounded
    relevance column; ``sims`` holds rounded pairwise similarities (a, b,
    sim_r) between candidates, both directions. MMR is inherently
    sequential in k, so each of the k-1 steps runs one tiny Spark job over
    the candidate table (all float math stays in Spark expressions —
    engine-matched rounding); only the chosen ids cross the driver
    (k integers, control flow — the same class as a k-means centroid
    collect). At scale this runs per query over its own bounded candidate
    set; depth and k are re-rank constants, so cost is O(k * N) per query.

    Returns (``id_col``, mmr_rank, score_r): score_r is the value maximized
    at that step (the raw relevance for rank 1)."""
    cand = cand.select(id_col, rel_col).localCheckpoint(eager=True)
    sims = sims.localCheckpoint(eager=True)
    first = (
        cand.orderBy(F.desc(rel_col), F.asc(id_col)).limit(1).collect()[0]
    )
    selected = [(first[id_col], 1, float(first[rel_col]))]
    for rank in range(2, k + 1):
        chosen = [s[0] for s in selected]
        scores = (
            cand.filter(~F.col(id_col).isin(chosen))
            .join(
                sims.filter(F.col("b").isin(chosen)),
                F.col(id_col) == F.col("a"),
            )
            .groupBy(id_col, rel_col)
            .agg(F.max("sim_r").alias("_mx"))
            .select(
                id_col,
                F.round(
                    F.lit(float(lam)) * F.col(rel_col)
                    - F.lit(float(1.0 - lam)) * F.col("_mx"),
                    round_dp,
                ).alias("_score"),
            )
        )
        pick = scores.orderBy(F.desc("_score"), F.asc(id_col)).limit(1).collect()[0]
        selected.append((pick[id_col], rank, float(pick["_score"])))
    spark = cand.sparkSession
    return spark.createDataFrame(
        selected, f"{id_col} bigint, mmr_rank int, score_r double"
    )


def recall_report(
    approx: DataFrame,
    exact: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate result list against the exact
    list: |approx ∩ exact| / |exact| — the standard ANN evaluation metric
    as a first-class operator (feed it any two (query, neighbor) lists).
    Both inputs are already top-k-bounded, so every join and aggregate here
    is queries x k sized regardless of corpus size.

    Returns (``query_col``, n_hits, n_exact, recall_r)."""
    a = approx.select(query_col, id_col)
    x = exact.select(query_col, id_col)
    hits = (
        a.join(x, [query_col, id_col])
        .groupBy(query_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    totals = x.groupBy(query_col).agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    return totals.join(hits, query_col, "left").select(
        query_col,
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        "n_exact",
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("n_exact").cast("double"), 6
        ).alias("recall_r"),
    )
