"""1-bit binary quantization (BQ) for vector search.

The coarsest point on the quantization ladder this engine ships
(SQ8 → PQ → BQ): each dimension collapses to its sign bit, a 64-dim float
vector becomes ONE bigint, and the approximate distance is the Hamming
distance between codes — `bit_count(a XOR b)`, a single JVM instruction per
pair, 256× less memory traffic than the float scan. Exactly like the SQ8
path (`index/sq.py`), the code is a CLOSED-FORM function of the vector (no
trained codebook), so the entire approximate pipeline — codes, Hamming
shortlist, exact re-rank — is replicable in ANSI SQL and the ANN result
itself is hash-checked by the DuckDB oracle, not merely recall-floored.

This is the standard "binary quantization + rescoring" design modern vector
stores ship (sign-bit codes re-ranked by exact distance over a shortlist);
sign-of-coordinate is the 1-bit case of scalar quantization and needs no
stored parameters at all.

Extends the reference's exact search surface
(`/root/reference/include/pktree.hpp:948-973`) the same way SQ8/PQ do: same
(query_id, neighbor_id, dist, rank) contract, cheaper scan.

Scale shape (100 TB): the code column is computed in the scan projection
(zero shuffle, 8 bytes/vector); the Hamming scan is a broadcast-probe pass
like `operators/knn.py::knn_join`; only `rerank` rows per probe reach the
exact-search tail every vector index shares (`index/search.py`). At
cluster scale the BQ scan composes with the IVF/grid candidate machinery —
quantize WITHIN cells — because the code column is just another column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyvectorsearch_spark.functions.vector import _as_double
from pyvectorsearch_spark.index.search import guard_probes, keyed, knn_rows, scored, topk


def bq_code_expr(vec: Column | str, dim: int) -> Column:
    """Packed sign-bit code: bit (dim-1-i) = 1 iff vec[i] > 0 (0-based i).

    MSB-first packing so codes of equal-length vectors sort like their bit
    strings. For dim=64 the top bit lands in the bigint sign bit — Java
    two's-complement wraps silently and deterministically, and XOR/
    bit_count treat the long as a raw 64-bit pattern, so Hamming math is
    unaffected (same wrap the 64-bit chunk masks in
    ``operators/dedup.py::hamming_pairs_bucketed`` rely on).
    """
    if dim > 64:
        raise ValueError(f"bq_code_expr packs into one bigint: dim {dim} > 64")
    v = _as_double(vec)
    # Literal-shift OR chain (shiftleft's bit count must be a plan-time int);
    # 64 terms over one array read — the scan-stage projection this is meant
    # to be. bitwiseOR never overflows, so ANSI mode stays happy even when
    # bit 63 lands in the bigint sign bit.
    code = F.lit(0).cast("long")
    for i in range(dim):
        bit = (F.element_at(v, i + 1) > 0).cast("long")
        code = code.bitwiseOR(F.shiftleft(bit, (dim - 1) - i))
    return code


def bq_knn(
    data: DataFrame,
    probes: DataFrame,
    k: int,
    *,
    dim: int,
    rerank: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qvec",
) -> DataFrame:
    """BQ approximate kNN with exact shortlist re-rank.

    Per probe: Hamming-nearest ``rerank`` codes (ties by id — integer
    ordering, deterministic in any engine), then exact squared-L2 re-rank of
    the shortlist to the final top-``k``. Returns
    ``(query_id, neighbor_id, dist, rank)``.
    """
    qs = keyed(guard_probes(probes, query_id_col, qvec_col, dim))
    coded = data.select(
        F.col(id_col).alias("neighbor_id"), bq_code_expr(vec_col, dim).alias("_code")
    )
    qcoded = qs.withColumn("_qcode", bq_code_expr("_qvec", dim))
    ham = F.bit_count(F.col("_code").bitwiseXOR(F.col("_qcode"))).cast("int")
    pairs = coded.crossJoin(F.broadcast(qcoded)).withColumn("_ham", ham)
    short = topk(pairs, ["_qid", "_pos"], ["_ham", "neighbor_id"], rerank, "_r1").select(
        "_qid", "neighbor_id", "_qvec"
    )
    return knn_rows(
        scored(data, F.broadcast(short), "neighbor_id", id_col=id_col, vec_col=vec_col, dim=dim),
        k,
    )
