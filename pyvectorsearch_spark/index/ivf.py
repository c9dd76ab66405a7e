"""IVF (inverted-file) index — the ANN scale path for high-dimensional
vectors, where the reference's grid decomposition degenerates (at dim ≫ 8 a
rectangular grid puts all points in one cell or one point per cell; the
PK-tree was built for low-dim spatial data like the 2-d cities example).

Spark-first design:

- **Coarse quantizer**: deterministic k-means (seeded, fixed iterations) on a
  deterministic sample collected to the driver — at 100 TB the sample is
  ``sample_per_list · n_lists`` rows regardless of corpus size.
- **Assignment**: centroids broadcast; each row's nearest-centroid id is
  computed in one Arrow-batched numpy pass (``mapInArrow``, BLAS matmul)
  that appends ``list_id`` to the untouched record batch — a single
  map-side projection, no shuffle, and every input value (a NaN component
  included) comes back as it went in.
- **Search**: per query, probe the ``nprobe`` nearest centroid lists and
  hand the (probe, list) pairs to the exact-search tail every vector index
  shares (``index/search.py``: probe guard, ``list_id`` join under the
  data-row guard — partition pruning once the index is persisted
  ``partitionBy("list_id")`` — exact distance, top-k window). nprobe trades
  recall for scan fraction; ``nprobe = n_lists`` is exhaustive (exact).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from pyvectorsearch_spark.functions.vector import l2_sq, vec_is_finite
from pyvectorsearch_spark.index.search import guard_probes, keyed, knn_rows, scored, topk
from pyvectorsearch_spark.plans.local import read_rows


def _matrix(vectors: pa.Array, dim: int) -> np.ndarray:
    """(n, dim) float64 rows of an Arrow vector column; a NULL vector, a
    NULL component or a vector of another length reads as NaNs, which land
    in list / code 0 (argmin of an all-NaN row) where the search's data-row
    guard refuses them."""
    ok = pc.fill_null(pc.equal(pc.list_value_length(vectors), dim), False)
    X = np.full((len(vectors), dim), np.nan)
    flat = vectors.filter(ok).flatten().to_numpy(zero_copy_only=False)
    X[ok.to_numpy(zero_copy_only=False)] = flat.reshape(-1, dim)
    return X


def _appended(df: DataFrame, name: str, dtype, kernel) -> DataFrame:
    """``df`` with one column ``name`` appended by ``kernel`` (a record
    batch -> Arrow array) in a ``mapInArrow`` pass: every input column
    passes through untouched."""
    schema = StructType([*df.schema.fields, StructField(name, dtype)])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield batch.append_column(name, kernel(batch))

    return df.mapInArrow(run, schema)


def _kmeans(sample: np.ndarray, n_lists: int, iters: int, seed: int) -> np.ndarray:
    """Seeded Lloyd iterations; empty clusters re-seeded deterministically."""
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(sample), size=n_lists, replace=False)
    cent = sample[idx].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_lists):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
            else:
                cent[j] = sample[rng.randint(len(sample))]
    return cent


@dataclass
class IVFIndex:
    df: DataFrame  # source rows + list_id
    centroids: np.ndarray  # (n_lists, dim)
    id_col: str
    vec_col: str
    # The k-means training sample, kept ONLY on freshly-built indexes (not
    # persisted/loaded) so stacked quantizers (IVF-PQ) can train on the same
    # rows without re-running the count + stride-sample jobs.
    train_sample: np.ndarray | None = None

    @staticmethod
    def build(
        df: DataFrame,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_lists: int = 16,
        sample_per_list: int = 64,
        iters: int = 10,
        seed: int = 42,
    ) -> "IVFIndex":
        # Deterministic partition-head sample (same pattern as
        # ``operators.dedup.angular_bucket_model``): take the first
        # ceil(target / n_parts) rows of every partition — one map-side job,
        # no count, no full scan (tasks stop after their head slice), and
        # every partition contributes equally so the sample is not skewed
        # toward any one partition's id range.
        target = n_lists * sample_per_list
        n_parts = df.rdd.getNumPartitions()
        per_part = max(1, -(-target // max(n_parts, 1)))
        vec_type = dict(df.dtypes)[vec_col]

        def head_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            left = per_part
            for pdf in batches:
                if left <= 0 or not len(pdf):
                    break
                take = pdf.iloc[:left]
                left -= len(take)
                yield take

        sample_rows = (
            df.select(F.col(vec_col).alias("_v"))
            .filter(vec_is_finite("_v"))
            .mapInPandas(head_sample, schema=f"_v {vec_type}")
            .limit(target)
            .collect()
        )
        sample = np.asarray([list(r[0]) for r in sample_rows], dtype=np.float64)
        if not len(sample):
            raise ValueError("IVFIndex.build: empty input")
        n_lists = min(n_lists, len(sample))
        cent = _kmeans(sample, n_lists, iters, seed)

        sc = df.sparkSession.sparkContext
        bc = sc.broadcast(cent)

        def assign(batch: pa.RecordBatch) -> pa.Array:
            C = bc.value  # (L, d)
            X = _matrix(batch.column(vec_col), C.shape[1])
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
            return pa.array(d2.argmin(axis=1).astype(np.int32))

        return IVFIndex(
            df=_appended(df, "list_id", IntegerType(), assign),
            centroids=cent,
            id_col=id_col,
            vec_col=vec_col,
            train_sample=sample,
        )

    def knn(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int = 4,
        query_id: str = "query_id",
        query_vec: str = "qvec",
        candidates: str = "driver",
    ) -> DataFrame:
        """Top-k by L2 over each query's ``nprobe`` nearest lists. Exact iff
        nprobe == n_lists; otherwise approximate with recall rising in nprobe
        (tested ≥0.9 at nprobe=L/4 on the fixture).

        ``candidates="driver"`` collects the probe set and pairs every probe
        with the UNION of all probes' lists, pruned with one ``isin`` filter
        (right for a handful of probes — minimum plan depth, partition
        pruning on the persisted index). ``candidates="distributed"`` never
        collects the queries: each probe's nprobe lists are picked by a
        window over the broadcast centroid table — the path for a query
        TABLE of 10⁴+ probes. At partial nprobe the distributed form is
        per-probe-strict (a probe only sees its OWN lists, not the union),
        which is canonical IVF semantics. Both finish in the shared exact
        tail (``index/search.py``)."""
        if candidates not in ("driver", "distributed"):
            raise ValueError(f"unknown candidates mode {candidates!r}")
        dim = self.centroids.shape[1]
        qs = guard_probes(queries, query_id, query_vec, dim)
        data = self.df
        if candidates == "distributed":
            cand = self._probe_lists(qs, nprobe)
        else:
            Q = np.asarray([r[0] for r in qs.select("_qvec").collect()], dtype=np.float64)
            d2 = ((Q.reshape(-1, dim)[:, None, :] - self.centroids[None, :, :]) ** 2).sum(axis=2)
            lists = sorted({int(x) for row in d2 for x in np.argsort(row, kind="stable")[:nprobe]})
            data = data.filter(F.col("list_id").isin(lists))
            cand = F.broadcast(qs.select(
                F.struct("_qid").alias("_qid"),
                "_qvec",
                F.explode(F.array(*map(F.lit, lists)).cast("array<int>")).alias("list_id"),
            ))
        return knn_rows(
            scored(data, cand, "list_id", id_col=self.id_col, vec_col=self.vec_col, dim=dim), k
        )

    def _probe_lists(self, qs: DataFrame, nprobe: int) -> DataFrame:
        """Distributed candidate selection: probes × broadcast centroids →
        each probe's nprobe nearest lists (window) as ``(_qid, list_id,
        _qvec)`` pairs. No ``collect()`` anywhere; scales in the number of
        probes."""
        spark = self.df.sparkSession
        cent = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "list_id int, _centroid array<double>",
        )
        # Hash-partition probes on the id first: the |Q|·|lists| distance
        # expressions spread across every core (not the query table's few
        # source partitions) and both windows reuse the exchange.
        probes = keyed(qs).repartition(spark.sparkContext.defaultParallelism, "_qid")
        pairs = probes.crossJoin(F.broadcast(cent)).withColumn(
            "_cd2", l2_sq(F.col("_qvec"), F.col("_centroid"))
        )
        return topk(pairs, ["_qid", "_pos"], ["_cd2", "list_id"], nprobe, "_rn").select(
            "_qid", "list_id", "_qvec"
        )

    def write(
        self,
        path: str,
        mode: str = "overwrite",
        *,
        partition_rows_threshold: int = 100_000,
        target_file_rows: int = 4_000_000,
    ) -> None:
        """Persist parquet + centroid table. Like ``GridIndex.write``: big
        lists get directory partitioning (partition pruning on ``list_id``);
        small lists get few cell-sorted files (row-group stats pruning) to
        avoid per-list directory sprawl."""
        n = self.df.count()
        n_lists = max(len(self.centroids), 1)
        if n and n / n_lists >= partition_rows_threshold:
            self.df.repartition("list_id").write.mode(mode).partitionBy(
                "list_id"
            ).parquet(f"{path}/data")
        else:
            files = max(1, math.ceil(n / max(target_file_rows, 1)))
            (
                self.df.repartitionByRange(files, "list_id")
                .sortWithinPartitions("list_id")
                .write.mode(mode)
                .parquet(f"{path}/data")
            )
        spark = self.df.sparkSession
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)]
        spark.createDataFrame(rows, "list_id int, centroid array<double>").coalesce(
            1
        ).write.mode(mode).parquet(f"{path}/centroids")
        meta = [(self.id_col, self.vec_col)]
        spark.createDataFrame(meta, "id_col string, vec_col string").coalesce(
            1
        ).write.mode(mode).parquet(f"{path}/meta")

    @staticmethod
    def load(spark, path: str) -> "IVFIndex":
        data = spark.read.parquet(f"{path}/data")
        # centroids/meta are tens of tiny rows: read them driver-side when
        # local instead of paying two Spark jobs per query invocation
        cent_rows = sorted(read_rows(spark, f"{path}/centroids"), key=lambda r: r["list_id"])
        cent = np.asarray([list(r["centroid"]) for r in cent_rows])
        meta = read_rows(spark, f"{path}/meta")[0]
        return IVFIndex(df=data, centroids=cent, id_col=meta["id_col"], vec_col=meta["vec_col"])
