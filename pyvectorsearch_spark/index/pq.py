"""Product-quantization ANN (IVF-PQ with asymmetric distance computation).

At 100 TB the dominant cost of vector search is scanning raw float vectors
(4·dim bytes per row). PQ compresses each vector into ``m`` one-byte subspace
codes (dim 64 → 8 bytes: 32× less I/O than float32), so the candidate phase
reads only ``(id, list_id, pq_code)`` — the float column never leaves parquet
thanks to column pruning — and the exact math touches just the top-``rerank``
candidates per query. Public algorithm: Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 (IVFADC variant).
The reference engine has no compression at all (raw C++ arrays,
/root/reference/include/pktree.hpp:43); this is the Spark-native scale path
its in-memory design never needed.

Spark mapping (all stages distributed):
  1. coarse IVF assignment (reuses ``IVFIndex.build`` — broadcast centroids,
     one Arrow-batched map pass);
  2. PQ codebooks trained per subspace on the same deterministic
     driver-sized sample; encoding is a second map-only ``mapInArrow`` pass
     appending ``pq_code array<smallint>`` to the untouched rows;
  3. search: per-partition ADC — numpy lookup-table gather + sum over the
     code matrix, emitting per-partition top-``rerank`` — then one tiny
     window for each probe's global top-``rerank``; that shortlist is the
     candidate set of the exact-search tail every vector index shares
     (``index/search.py``: EXACT re-ranked distances on the full vectors,
     final top-k). The shuffle carries ≤ partitions·|Q|·rerank skinny rows,
     never vectors.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from pyvectorsearch_spark.index.ivf import IVFIndex, _appended, _kmeans, _matrix
from pyvectorsearch_spark.index.search import guard_probes, knn_rows, scored, topk
from pyvectorsearch_spark.plans.local import read_rows


@dataclass
class PQCodec:
    """Per-subspace codebooks: ``codebooks[s]`` is (ksub, dsub) centroids for
    dimension slice ``[s*dsub, (s+1)*dsub)``."""

    codebooks: np.ndarray  # (m, ksub, dsub)

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    @staticmethod
    def train(
        sample: np.ndarray, *, m: int, ksub: int = 256, iters: int = 10, seed: int = 42
    ) -> "PQCodec":
        n, dim = sample.shape
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        if ksub > 256:
            raise ValueError("ksub > 256 does not fit a one-byte code")
        ksub = min(ksub, n)
        dsub = dim // m
        books = np.stack(
            [
                _kmeans(
                    np.ascontiguousarray(sample[:, s * dsub : (s + 1) * dsub]),
                    ksub,
                    iters,
                    seed + s,  # distinct deterministic seed per subspace
                )
                for s in range(m)
            ]
        )
        return PQCodec(codebooks=books)

    def encode(self, X: np.ndarray) -> np.ndarray:
        """(n, dim) float → (n, m) uint8 nearest-centroid codes."""
        n = len(X)
        codes = np.empty((n, self.m), dtype=np.uint8)
        for s in range(self.m):
            sub = X[:, s * self.dsub : (s + 1) * self.dsub]
            C = self.codebooks[s]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            codes[:, s] = d2.argmin(axis=1)
        return codes

    def decode(self, codes: np.ndarray) -> np.ndarray:
        """(n, m) codes → (n, dim) reconstructed vectors."""
        return np.concatenate(
            [self.codebooks[s][codes[:, s]] for s in range(self.m)], axis=1
        )

    def luts(self, Q: np.ndarray) -> np.ndarray:
        """(q, dim) queries → (q, m, ksub) squared-L2 lookup tables: ADC
        distance of query j to code row c is ``sum_s lut[j, s, c[s]]``."""
        q = len(Q)
        lut = np.empty((q, self.m, self.ksub), dtype=np.float64)
        for s in range(self.m):
            sub = Q[:, s * self.dsub : (s + 1) * self.dsub]
            C = self.codebooks[s]
            lut[:, s, :] = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
        return lut


@dataclass
class IVFPQIndex:
    df: DataFrame  # source rows + list_id + pq_code
    centroids: np.ndarray
    codec: PQCodec
    id_col: str
    vec_col: str

    @staticmethod
    def build(
        df: DataFrame,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 16,
        m: int = 8,
        ksub: int = 256,
        sample_per_list: int = 64,
        iters: int = 10,
        seed: int = 42,
    ) -> "IVFPQIndex":
        base = IVFIndex.build(
            df,
            vec_col=vec_col,
            id_col=id_col,
            n_lists=n_lists,
            sample_per_list=sample_per_list,
            iters=iters,
            seed=seed,
        )
        # Train PQ on the SAME sample the coarse quantizer collected —
        # IVFIndex.build exposes it, so no second count/stride-sample pass
        # over the corpus (driver holds only the parameter-bound sample).
        sample = base.train_sample
        codec = PQCodec.train(sample, m=m, ksub=ksub, iters=iters, seed=seed)

        sc = df.sparkSession.sparkContext
        bc = sc.broadcast(codec.codebooks)

        def encode(batch: pa.RecordBatch) -> pa.Array:
            cdc = PQCodec(codebooks=bc.value)
            codes = cdc.encode(_matrix(batch.column(vec_col), cdc.m * cdc.dsub))
            offsets = np.arange(0, codes.size + 1, cdc.m, dtype=np.int32)
            return pa.ListArray.from_arrays(offsets, codes.astype(np.int16).ravel())

        return IVFPQIndex(
            df=_appended(base.df, "pq_code", T.ArrayType(T.ShortType()), encode),
            centroids=base.centroids,
            codec=codec,
            id_col=id_col,
            vec_col=vec_col,
        )

    def knn(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int = 4,
        rerank: int | None = None,
        query_id: str = "query_id",
        query_vec: str = "qvec",
    ) -> DataFrame:
        """ANN top-k: IVF list pruning → ADC shortlist of ``rerank``
        candidates per query (default 4k) → exact L2 on the full vectors of
        the shortlist only. Distances in the result are EXACT (re-ranked);
        approximation affects only which candidates made the shortlist —
        recall rises with nprobe and rerank (floors pinned in
        tests/test_pq.py).

        Scale shape: the ADC scan reads only (id, list_id, pq_code) — m
        bytes of code per row instead of 4·dim of float — and emits
        ≤ partitions·|Q|·rerank rows into one tiny window; the re-rank is
        the shared exact tail over the broadcast shortlist, joined to the
        vector rows on the id, touching ≤ |Q|·rerank full vectors."""
        rerank = max(rerank or 4 * k, k)
        dim = self.centroids.shape[1]
        qs = guard_probes(queries, query_id, query_vec, dim)
        q_rows = qs.collect()
        Q = np.asarray([r._qvec for r in q_rows], dtype=np.float64).reshape(-1, dim)
        cd2 = ((Q[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
        lists = sorted({int(x) for row in cd2 for x in np.argsort(row, kind="stable")[:nprobe]})
        lut = self.codec.luts(Q)

        spark = self.df.sparkSession
        bq = spark.sparkContext.broadcast((lut, rerank))

        def adc_topr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lut_, r_ = bq.value
            cols = np.arange(lut_.shape[1])
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.vstack(
                    [np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]]
                )  # (n, m)
                # (q, n, m) gather → (q, n): lut[j, s, codes[i, s]] summed
                # over subspaces; cols broadcasts against the code matrix.
                approx = lut_[:, cols, codes].sum(axis=2)
                kk = min(r_, len(pdf))
                part = np.argpartition(approx, kk - 1, axis=1)[:, :kk]  # (q, kk)
                yield pd.DataFrame({
                    "_pos": np.repeat(np.arange(len(lut_), dtype=np.int32), kk),
                    "neighbor_id": pdf["neighbor_id"].to_numpy()[part.ravel()],
                    "_ad": np.take_along_axis(approx, part, axis=1).ravel(),
                })

        pruned = self.df.filter(F.col("list_id").isin(lists)).select(
            F.col(self.id_col).alias("neighbor_id"), "pq_code"
        )
        partial = pruned.mapInPandas(adc_topr, schema=T.StructType([
            T.StructField("_pos", T.IntegerType()),
            T.StructField("neighbor_id", self.df.schema[self.id_col].dataType),
            T.StructField("_ad", T.DoubleType()),
        ]))
        shortlist = topk(partial, "_pos", ["_ad", "neighbor_id"], rerank, "_rn")
        # _pos (the probe's place in q_rows) keys each probe's own shortlist,
        # so probes sharing an id, or a NULL id, keep theirs apart
        probes = spark.createDataFrame(
            [(j, *r) for j, r in enumerate(q_rows)],
            T.StructType([T.StructField("_pos", T.IntegerType()), *qs.schema.fields]),
        ).withColumn("_qid", F.struct("_qid"))
        cand = shortlist.join(F.broadcast(probes), "_pos").select("_qid", "neighbor_id", "_qvec")
        return knn_rows(
            scored(self.df, F.broadcast(cand), "neighbor_id",
                   id_col=self.id_col, vec_col=self.vec_col, dim=dim),
            k,
        )

    def write(self, path: str, mode: str = "overwrite") -> None:
        """Persist codes + vectors partitioned like IVFIndex.write, plus the
        codebooks; ADC readers prune to (id, list_id, pq_code) columns."""
        idx = IVFIndex(
            df=self.df, centroids=self.centroids, id_col=self.id_col, vec_col=self.vec_col
        )
        idx.write(path, mode)
        spark = self.df.sparkSession
        m, ksub, dsub = self.codec.m, self.codec.ksub, self.codec.dsub
        rows = [
            (s, j, [float(x) for x in self.codec.codebooks[s, j]])
            for s in range(m)
            for j in range(ksub)
        ]
        spark.createDataFrame(
            rows, "subspace int, code int, centroid array<double>"
        ).coalesce(1).write.mode(mode).parquet(f"{path}/codebooks")

    @staticmethod
    def load(spark, path: str) -> "IVFPQIndex":
        base = IVFIndex.load(spark, path)
        rows = read_rows(spark, f"{path}/codebooks")
        m = 1 + max(r["subspace"] for r in rows)
        ksub = 1 + max(r["code"] for r in rows)
        dsub = len(rows[0]["centroid"])
        books = np.zeros((m, ksub, dsub))
        for r in rows:
            books[r["subspace"], r["code"]] = r["centroid"]
        return IVFPQIndex(
            df=base.df,
            centroids=base.centroids,
            codec=PQCodec(codebooks=books),
            id_col=base.id_col,
            vec_col=base.vec_col,
        )
