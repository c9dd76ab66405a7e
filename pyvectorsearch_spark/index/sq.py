"""Scalar-quantization (SQ8) ANN — the third member of the compression
family next to IVF (coarse pruning) and IVF-PQ (subspace codes).

Each dimension is affinely mapped to one byte: ``code_i = round((v_i -
lo_i) / step_i)`` with per-dimension ``lo/step`` from a global min/max pass
(SQ8 as shipped in FAISS `ScalarQuantizer`/Milvus; public technique). The
candidate scan then reads 1 byte/dim instead of 4 (column pruning keeps the
float column in parquet), the approximate distance is a pure columnar
``zip_with`` fold over the code array (whole-stage codegen, no Python), and
only the per-query top-``rerank`` shortlist touches raw vectors for exact
re-ranking.

Unlike IVF/PQ (k-means training ⇒ recall floors, no SQL oracle), SQ8 is a
closed-form DETERMINISTIC function of the data: min/max are exact, the
rounding is reproducible, so the ENTIRE approximate search — quantization,
approximate distances, shortlist, re-rank — has a bit-exact DuckDB oracle
(`queries/search_extra.py::knn_sq8`). The approximate path itself is
oracle-checked, not just floored.

Scale shape: the stats pass is one map-side-combined (pos → min/max)
aggregate collecting dim-sized results to the driver (constant footprint,
like IVF centroids); encode is a projection; search shuffles only
(query, id, approx-dist) shortlist rows, and the shortlist is the candidate
set of the exact-search tail every vector index shares (``index/search.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from pyvectorsearch_spark.functions.vector import l2_sq, vec_is_finite
from pyvectorsearch_spark.index.search import guard_probes, keyed, knn_rows, scored, topk


@dataclass
class SQ8Index:
    df: DataFrame  # (id, vec, code: array<smallint>)
    lo: list[float]
    step: list[float]
    id_col: str
    vec_col: str

    @staticmethod
    def build(
        df: DataFrame, *, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> "SQ8Index":
        """One min/max aggregate per dimension (map-side combined,
        dim-sized result) over the valid rows, then the code column as a
        pure projection. An invalid row (NULL / NaN / Inf component) cannot
        skew the quantizer; search refuses it in the exact stage."""
        valid = df.filter(vec_is_finite(vec_col))
        e = valid.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        stats = (
            e.groupBy("pos")
            .agg(F.min("col").alias("lo"), F.max("col").alias("hi"))
            .orderBy("pos")
            .collect()
        )
        lo = [r["lo"] for r in stats]
        # zero-span dims quantize to code 0 with step 1 (any value maps back
        # to lo exactly)
        step = [((r["hi"] - r["lo"]) / 255.0) or 1.0 for r in stats]
        coded = df.withColumn(
            "_sq8",
            sq8_encode_expr(F.col(vec_col), lo, step),
        )
        return SQ8Index(coded, lo, step, id_col, vec_col)

    def knn(
        self,
        queries: DataFrame,
        k: int,
        *,
        query_id: str = "query_id",
        query_vec: str = "qvec",
        rerank: int | None = None,
    ) -> DataFrame:
        """Approximate shortlist on decoded bytes, exact top-k on the
        shortlist (``index/search.py``). ``rerank`` defaults to 4k."""
        dim = len(self.lo)
        r = rerank or 4 * k
        qs = keyed(guard_probes(queries, query_id, query_vec, dim))
        decoded = sq8_decode_expr(F.col("_sq8"), self.lo, self.step)
        cand = (
            self.df.select(F.col(self.id_col).alias("neighbor_id"), "_sq8")
            .crossJoin(F.broadcast(qs))
            .withColumn("_ad", l2_sq(decoded, F.col("_qvec")))
        )
        short = topk(cand, ["_qid", "_pos"], ["_ad", "neighbor_id"], r, "_r1").select(
            "_qid", "neighbor_id", "_qvec"
        )
        return knn_rows(
            scored(self.df, F.broadcast(short), "neighbor_id",
                   id_col=self.id_col, vec_col=self.vec_col, dim=dim),
            k,
        )


def sq8_encode_expr(vec, lo: list[float], step: list[float]):
    """codes_i = clamp(round((v_i - lo_i) / step_i), 0, 255) as smallint."""
    dim = len(lo)
    return F.array(
        *[
            F.least(
                F.greatest(
                    F.round(
                        (F.element_at(vec.cast("array<double>"), i + 1) - lo[i])
                        / step[i],
                        0,
                    ),
                    F.lit(0.0),
                ),
                F.lit(255.0),
            )
            .cast("smallint")
            for i in range(dim)
        ]
    )


def sq8_decode_expr(codes, lo: list[float], step: list[float]):
    """decoded_i = lo_i + code_i * step_i (double array)."""
    dim = len(lo)
    return F.array(
        *[
            (F.element_at(codes, i + 1).cast("double") * step[i] + lo[i])
            for i in range(dim)
        ]
    )
