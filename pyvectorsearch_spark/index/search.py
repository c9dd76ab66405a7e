"""The exact-search contract every vector index shares.

The reference has one search path: filter candidates, then refine them by
exact distance under a bounded top-k (Seidl & Kriegel's multi-step kNN,
``/root/reference/include/pktree.hpp:942-1032``). Every index here builds
only its own candidates, rows ``(_qid, key, _qvec)`` with ``_qid`` being
``struct(probe id)`` (never NULL, so a NULL probe id keys like any other),
and this module owns the rest:

- ``guard_probes``: the probe table ``(_qid, _qvec)`` under the probe-side
  contract (NULL / NaN / Inf components, a dim other than the index's);
- ``scored``: the candidates joined to the data on their key (GridIndex's
  ``cell``, IVF's ``list_id``, a re-rank's shortlisted ``neighbor_id``),
  with the data-row check in the scan projection, then the exact ``l2_sq``;
- ``knn_rows`` / ``range_rows``: the top-k window or the radius filter,
  ties broken by ``neighbor_id``;
- ``topk``: the one ``row_number`` window. The approximate stages
  (quantized shortlists, IVF's list selection, the fixed-point windows) and
  the index-free joins of ``operators/knn.py`` rank through it too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyvectorsearch_spark.functions.vector import l2_sq, vec_is_finite

ON_INVALID = {"error", "skip"}


def check_on_invalid(on_invalid: str) -> None:
    if on_invalid not in ON_INVALID:
        raise ValueError(
            f"unknown on_invalid {on_invalid!r}; expected one of {sorted(ON_INVALID)}"
        )


def fail(*parts: str | Column) -> Column:
    """``raise_error`` with the parts concatenated; Column parts render as
    strings, NULL as "NULL"."""
    return F.raise_error(F.concat(*[
        F.coalesce(p.cast("string"), F.lit("NULL")) if isinstance(p, Column) else F.lit(p)
        for p in parts
    ]))


def guard_probes(
    queries: DataFrame, query_id: str, query_vec: str, dim: int, on_invalid: str = "error"
) -> DataFrame:
    """The probe table ``(_qid, _qvec)`` under the query-side validity
    contract: ``on_invalid="error"`` (default) makes any NULL/NaN/Inf probe
    raise with its id — compiled into the projection, zero extra jobs;
    ``"skip"`` filters invalid probes out. Without this, a NaN probe makes
    every bound comparison false or every distance NaN. A probe whose dim
    is not the index's raises "vector dim mismatch" with its id under
    either setting."""
    check_on_invalid(on_invalid)
    q, qid = F.col(query_vec), F.col(query_id)
    guarded = F.when(F.size(q) == F.lit(dim), q).otherwise(
        fail(f"vector dim mismatch: index dim={dim}, query dim=", F.size(q), " id=", qid)
    )
    ok = vec_is_finite(q)
    if on_invalid == "skip":
        queries = queries.filter(ok)
    else:
        guarded = F.when(ok, guarded).otherwise(
            fail("invalid query vector (NULL / NaN / Inf component) id=", qid,
                 "; pass on_invalid='skip' to drop such probes")
        )
    return queries.select(qid.alias("_qid"), guarded.alias("_qvec"))


def keyed(qs: DataFrame) -> DataFrame:
    """Guarded probes ``(_qid, _qvec)`` as ``(struct(_qid), _qvec, _pos)``
    for an index whose approximate stage ranks per probe inside the Spark
    plan: ``_pos`` tells apart probes that share an id, so each one keeps
    its own lists or shortlist, and the final window over ``_qid`` then
    ranks their union as ``knn_join`` does."""
    return qs.select(
        F.struct("_qid").alias("_qid"), "_qvec", F.monotonically_increasing_id().alias("_pos")
    )


def topk(df: DataFrame, by, order, k: int, rank: str = "rank") -> DataFrame:
    """Rows ranked 1..k by ``order`` within each ``by`` group, the rank in
    column ``rank``."""
    w = Window.partitionBy(by).orderBy(order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def scored(
    data: DataFrame,
    cand: DataFrame,
    key: str,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    payload=(),
) -> DataFrame:
    """Candidates ``(_qid, key, _qvec)`` joined to the data rows on ``key``
    (dynamic partition pruning on a partitioned index), plus the exact
    ``dist``. ``key`` is a data column, or ``"neighbor_id"`` for a re-rank
    of shortlisted ids. The data-side contract sits in the scan's
    projection, once per data row rather than per (probe, row) pair: a NULL
    / NaN / Inf component or a dim other than the index's raises with the
    row id (an index built without a census, or over streamed rows, can
    hold such rows)."""
    v = F.col(vec_col)
    ok = vec_is_finite(v) & (F.size(v) == F.lit(dim))
    bad = fail(
        f"invalid vector (NULL / NaN / Inf component or dim != {dim}) "
        "in the index data id=",
        F.col(id_col),
    )
    d = data.select(
        *([] if key == "neighbor_id" else [key]),
        F.col(id_col).alias("neighbor_id"),
        F.when(ok, v).otherwise(bad).alias("_dvec"),
        *[F.col(c) for c in payload],
    )
    return d.join(cand, key).withColumn("dist", l2_sq(F.col("_dvec"), F.col("_qvec")))


def knn_rows(scored: DataFrame, k: int, payload=()) -> DataFrame:
    """``(query_id, neighbor_id, dist, rank, *payload)``: each probe id's k
    nearest scored rows, ties by ``neighbor_id``."""
    return topk(scored, "_qid", ["dist", "neighbor_id"], k).select(
        F.col("_qid._qid").alias("query_id"), "neighbor_id", "dist", "rank", *payload
    )


def range_rows(scored: DataFrame, r2: float, payload=()) -> DataFrame:
    """``(query_id, neighbor_id, dist, *payload)``: the scored rows within
    squared radius ``r2``."""
    return scored.filter(F.col("dist") <= F.lit(r2)).select(
        F.col("_qid._qid").alias("query_id"), "neighbor_id", "dist", *payload
    )
