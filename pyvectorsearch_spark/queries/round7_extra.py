"""Round-7 queries (outside the driver's pinned 50-entry window; covered by
tests/test_oracle_parity.py).

``dedup_simhash_density`` — the density-adaptive kernel dispatch
(VERDICT r6 ask #2) as an oracle-checked report: the pigeonhole
candidate census (Σ C(n_k, 2) over (chunk, value) buckets of the 60-bit
SimHash fingerprints), the pair-space density, and the kernel the
dispatcher would pick. The whole decision — md5 fingerprints included —
is integer-exact across engines, so the dispatch input itself
hash-checks against DuckDB: the planner's cost model is a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyvectorsearch_spark.operators.dedup import (
    DENSITY_CUTOFF,
    GEMM_MAX_N,
    SIMHASH_BITS,
    hamming_candidate_stats_df,
    simhash_64,
)
from pyvectorsearch_spark.functions.vector import duckdb_l2_sq
from pyvectorsearch_spark.plans.local import parquet_schema
from pyvectorsearch_spark.queries.dedup import MAX_HAMMING, _simhash_oracle
from pyvectorsearch_spark.sources.tables import load_table, spread


def q_dedup_simhash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_docs, cand_pairs, full_pairs, density_r, kernel).

    Scale shape: simhash is one map-side Arrow pass; the census is one
    explode (max_hamming+1 rows/doc) + two bounded aggregates — the same
    cost class as one round of the bucketed join's first stage, i.e. the
    estimate is always affordable before committing to either kernel."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = simhash_64(docs)
    st = hamming_candidate_stats_df(
        sh, hash_col="simhash", bits=SIMHASH_BITS, max_hamming=MAX_HAMMING
    )
    full = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    density = F.when(full > 0, F.col("cand") / full).otherwise(F.lit(0.0))
    dense = (F.col("n") > 1) & (F.col("n") <= GEMM_MAX_N) & (
        density >= DENSITY_CUTOFF
    )
    return st.select(
        F.col("n").alias("n_docs"),
        F.col("cand").alias("cand_pairs"),
        full.alias("full_pairs"),
        F.round(density, 6).alias("density_r"),
        F.when(dense, F.lit("gemm")).otherwise(F.lit("bucketed")).alias("kernel"),
    )


def _density_oracle() -> str:
    """Same census in DuckDB: reuse the simhash CTE chain from the
    dedup_simhash oracle (everything up to ``sh``), then chunk-split and
    count. MAX_HAMMING=9 over 60 bits → 10 chunks of exactly 6 bits."""
    b = MAX_HAMMING + 1
    bounds = [(SIMHASH_BITS * j) // b for j in range(b + 1)]
    widths = {bounds[j + 1] - bounds[j] for j in range(b)}
    assert widths == {6}, widths  # 60/10: uniform 6-bit chunks
    base = _simhash_oracle()
    # keep the WITH ... sh AS (...) prefix, drop the final SELECT
    prefix = base[: base.rindex("SELECT a.doc_id")]
    return f"""{prefix}, chunks AS (
  SELECT b, (simhash >> (6 * b)) & 63 AS val
  FROM sh, unnest(range(0, {b})) AS u(b)
),
buckets AS (SELECT b, val, count(*)::BIGINT AS nk FROM chunks GROUP BY b, val),
census AS (
  SELECT sum(nk * (nk - 1) / 2)::BIGINT AS cand,
         sum(CASE WHEN b = 0 THEN nk ELSE 0 END)::BIGINT AS n
  FROM buckets
)
SELECT n AS n_docs, cand AS cand_pairs,
       (n * (n - 1) / 2)::BIGINT AS full_pairs,
       round(CASE WHEN n > 1 THEN cand / (n * (n - 1) / 2.0) ELSE 0.0 END, 6)
         AS density_r,
       CASE WHEN n > 1 AND n <= {GEMM_MAX_N}
                 AND cand / (n * (n - 1) / 2.0) >= {DENSITY_CUTOFF}
            THEN 'gemm' ELSE 'bucketed' END AS kernel
FROM census
"""


EMB_DIM = 64


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening/PCA prep: the upper-triangle covariance matrix of the
    embedding table as one partition-Gram pass (see
    ``operators.linalg.covariance_matrix`` for the 100 TB shape — BLAS
    per partition, ~partitions·d² rows shuffled, never n·d²)."""
    from pyvectorsearch_spark.operators.linalg import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, vec_col="embedding", dim=EMB_DIM)


def _covariance_oracle() -> str:
    """Same covariance in DuckDB via the naive n·d² unnest (fine at oracle
    scale), rounded identically."""
    d = EMB_DIM
    return f"""
WITH ex AS (
  SELECT u.i AS i, v.j AS j,
         CAST(e.embedding[u.i + 1] AS DOUBLE)
           * CAST(e.embedding[v.j + 1] AS DOUBLE) AS xy
  FROM embeddings e, unnest(range(0, {d})) u(i), unnest(range(0, {d})) v(j)
  WHERE v.j >= u.i
),
g AS (SELECT i, j, sum(xy) AS gs, count(*) AS n FROM ex GROUP BY i, j),
m AS (
  SELECT u.i AS i, avg(CAST(e.embedding[u.i + 1] AS DOUBLE)) AS mean
  FROM embeddings e, unnest(range(0, {d})) u(i) GROUP BY u.i
)
SELECT g.i, g.j,
       -- + 0.0 folds DuckDB's -0.0 (round of a tiny negative) onto +0.0,
       -- matching Spark's round
       round(g.gs / g.n - mi.mean * mj.mean, 6) + 0.0 AS cov_r
FROM g JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j
ORDER BY g.i, g.j
"""


SR_K = 5
SR_PROBES = 8


def q_knn_stream_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's insert path with PER-BATCH rebalancing: vectors
    stream in, every micro-batch appends fine-partitioned parquet AND
    merges its fine-cell count delta into a sidecar where the
    K-instantiation cascade re-runs (``index/incremental.py`` — the
    streaming restatement of pktree.hpp:587-929's per-insert dissolve
    cascade; closes VERDICT r6 residual gap #1, where the invariant was
    restored only by periodic compaction). The searchable index is then
    assembled from the append-only data plus the maintained mapping/stats
    — no data rewrite anywhere — and exact kNN must match the same
    brute-force oracle as the batch grid queries."""
    import os
    import shutil
    import tempfile
    import uuid

    from pyvectorsearch_spark.index.cache import build_or_load
    from pyvectorsearch_spark.index.grid import GridIndex
    from pyvectorsearch_spark.index.incremental import load_rebalanced_index
    from pyvectorsearch_spark.sources.tables import dataset_tag
    from pyvectorsearch_spark.streaming.ingest import (
        drain_complete,
        mark_drain_complete,
        stream_index_ingest,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
    )
    geom = build_or_load(
        spark,
        f"grid2d_occ16_{dataset_tag(sf_dir, 'embeddings')}",
        load=GridIndex.load,
        build=lambda: GridIndex.build(
            emb, vec_col="p2", id_col="vec_id", target_occupancy=16
        ),
    )
    base = dataset_tag(sf_dir, "embeddings")
    landing = os.path.join(tempfile.gettempdir(), f"pvs_emb_landing6_{base}")
    if not os.path.isdir(landing):
        tmp = f"{landing}.tmp-{uuid.uuid4().hex[:8]}"
        emb.repartition(6).write.parquet(tmp)
        try:
            os.rename(tmp, landing)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(landing):
                raise
    # "rebal9": the round-9 log-structured sidecar changed the meta layout;
    # a new artifact name keeps any pre-round-9 cached drain from being
    # read with the wrong layout (its pointer would be refused anyway —
    # layout versioning in index/incremental.py — but then every run would
    # redrain; fresh name = drain once, reuse forever)
    out = os.path.join(tempfile.gettempdir(), f"pvs_emb_rebal9_{base}")
    ck, meta = f"{out}.ck", f"{out}.meta"
    # Sentinel-gated reuse: dir existence alone survives a crash/timeout
    # mid-stream and would silently serve a partial index (ADVICE r7).
    if not drain_complete(out, ck, meta):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(meta, ignore_errors=True)
        schema = parquet_schema(spark, landing)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(landing)
        )
        assign = lambda df: df.withColumn(  # noqa: E731
            "cell",
            GridIndex._cell_expr(
                "p2", geom.origin, geom.width, geom.fine_level,
                geom.dim, geom.rr, geom.ratio, clamp=False,
            ),
        )
        q = stream_index_ingest(
            stream, assign=assign, out_path=out, checkpoint=ck,
            rebalance=dict(
                meta_path=meta, fine_level=geom.fine_level, dim=geom.dim,
                rr=geom.rr, ratio=geom.ratio, rank=geom.rank,
            ),
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "availableNow drain exceeded 300 s; the ingested index "
                "would be partial — failing loud instead (ADVICE r6)"
            )
        mark_drain_complete(out)
    idx = load_rebalanced_index(
        spark, data_path=out, meta_path=meta,
        origin=geom.origin, width=geom.width, dim=geom.dim,
        rank=geom.rank, rr=geom.rr, ratio=geom.ratio,
        fine_level=geom.fine_level, id_col="vec_id", vec_col="p2",
    )
    probes = emb.filter(F.col("vec_id") < SR_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
    )
    return idx.knn(probes, SR_K).select(
        "query_id", "neighbor_id", F.round("dist", 6).alias("dist_sq"), "rank"
    )


_SR_D2 = duckdb_l2_sq("q.qvec", "e.p2", 2)

ORACLE_KNN_STREAM_REBALANCED = f"""
WITH base AS (SELECT vec_id, embedding[1:2] AS p2 FROM embeddings),
q AS (SELECT vec_id AS query_id, p2 AS qvec FROM base WHERE vec_id < {SR_PROBES}),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_SR_D2} AS d
  FROM q CROSS JOIN base e
), ranked AS (
  SELECT query_id, neighbor_id, d,
         row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, round(d, 6) AS dist_sq, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {SR_K}
"""




# --- integer-exact distributed k-means ----------------------------------------

KM_K = 8
KM_ITERS = 3
KM_SCALE = 1000000.0


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means whose ENTIRE trajectory is bit-stable
    across engines (`operators/embeddings.py:kmeans_fixedpoint`):
    components quantize to a 1e-6 fixed-point grid, so distances and
    centroid sums are BIGINT math and even the centroid update is a
    correctly-rounded IEEE division of exactly-representable doubles.
    The corpus-clustering primitive (topic balancing, SemDeDup prep, IVF
    coarse quantizers) as a hash-checkable query — assignment, population,
    WCSS and the final centroids all oracle-check exactly."""
    from pyvectorsearch_spark.operators.embeddings import kmeans_fixedpoint

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return kmeans_fixedpoint(
        emb, k=KM_K, iters=KM_ITERS, scale=KM_SCALE
    ).orderBy("cluster_id", "dim_i")


def _kmeans_oracle() -> str:
    it_ctes = []
    for t in range(1, KM_ITERS + 1):
        p = t - 1
        it_ctes.append(f"""d{t} AS (
  SELECT p.vec_id, c.j, sum((p.q - c.v) * (p.q - c.v))::BIGINT AS dist
  FROM pts p JOIN c{p} c ON c.i = p.i GROUP BY 1, 2
),
a{t} AS (
  SELECT vec_id, j, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
  FROM d{t}
),
s{t} AS (
  SELECT a.j, p.i, sum(p.q)::BIGINT AS s, count(*)::BIGINT AS n
  FROM a{t} a JOIN pts p ON p.vec_id = a.vec_id WHERE a.rn = 1
  GROUP BY 1, 2
),
c{t} AS (
  SELECT c.j, c.i,
         coalesce(CAST(floor(CAST(s.s AS DOUBLE) / s.n + 0.5) AS BIGINT),
                  c.v) AS v
  FROM c{p} c LEFT JOIN s{t} s ON s.j = c.j AND s.i = c.i
)""")
    its = ",\n".join(it_ctes)
    T = KM_ITERS
    return f"""
WITH pts AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS i,
         unnest(list_transform(
           range(1, len(embedding) + 1),
           j -> CAST(floor(CAST(embedding[j] AS DOUBLE) * {KM_SCALE} + 0.5)
                     AS BIGINT))) AS q
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS j, i, q AS v FROM pts
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KM_K})
),
{its},
nw AS (
  SELECT j, count(*)::BIGINT AS n, sum(dist)::BIGINT AS w
  FROM a{T} WHERE rn = 1 GROUP BY j
)
SELECT c.j::BIGINT AS cluster_id,
       coalesce(nw.n, 0)::BIGINT AS n_points,
       coalesce(nw.w, 0)::BIGINT AS wcss,
       CAST(c.i - 1 AS INT) AS dim_i,
       c.v::BIGINT AS centroid_q
FROM c{T} c LEFT JOIN nw ON nw.j = c.j
ORDER BY cluster_id, dim_i
"""


QUERIES = {
    "dedup_simhash_density": q_dedup_simhash_density,
    "embedding_covariance": q_embedding_covariance,
    "knn_stream_rebalanced": q_knn_stream_rebalanced,
    "embedding_kmeans": q_embedding_kmeans,
}
ORACLES = {
    "dedup_simhash_density": _density_oracle(),
    "embedding_covariance": _covariance_oracle(),
    "knn_stream_rebalanced": ORACLE_KNN_STREAM_REBALANCED,
    "embedding_kmeans": _kmeans_oracle(),
}
