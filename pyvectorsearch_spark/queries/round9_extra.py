"""Round-9 queries, registered AFTER the driver's pinned 50-entry window.

- ``multimodal_crossformat_lossy``: the lossy-JPEG cross-container mining
  regime, split out of the stable round-5 Hamming-0 query per ADVICE r8
  (widening the original in place made its rows-only expectation
  fixture-sensitive and changed a shipped schema).
- ``stream_sidecar_counts``: hash-checked invariants of the r9
  log-structured rebalance sidecar — the maintained fine-count and
  mapping tables, after a real multi-batch drain, must equal DuckDB
  recomputing the closed-form cell assignment from scratch.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyvectorsearch_spark.plans.local import parquet_schema
from pyvectorsearch_spark.queries.multimodal_extra import (
    q_multimodal_crossformat_lossy,
)

#: fixed grid spec for the sidecar-counts drain: the oracle must be a
#: STATIC SQL string, so the geometry cannot come from a data-defined
#: build. width 1 at fine level 6 → per-axis cell width 2^-6 = 0.015625
#: exactly (a power of two, so the float division and floor are
#: correctly-rounded and bit-identical in both engines; out-of-box
#: points get honest negative coords on both sides).
_SC_LEVEL = 6
_SC_W = 0.015625  # 1.0 * 2**-6, exact


def q_stream_sidecar_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-ingest sidecar invariants, ORACLE-CHECKED (round 9): drain
    the embeddings' 2-d slice through ``stream_index_ingest`` with the
    log-structured rebalance on (multi-batch, fixed grid spec), then read
    the MAINTAINED sidecar back (`index/incremental.py`: state table at
    the fine level + the fine→home mapping) and report
    (n_fine_cells, n_points, max_fine_count, n_mapped). DuckDB recomputes
    the same numbers from scratch with the closed-form cell expression —
    so the incremental cascade's count bookkeeping and the
    one-row-per-fine-cell mapping invariant are value-hash-checked against
    an implementation that shares NO code with the engine. Complements
    ``knn_stream_rebalanced`` (search equality over the same machinery)."""
    from pyvectorsearch_spark.index.grid import GridIndex
    from pyvectorsearch_spark.index.incremental import (
        read_fine_counts,
        read_mapping,
    )
    from pyvectorsearch_spark.sources.tables import dataset_tag, load_table
    from pyvectorsearch_spark.streaming.ingest import (
        drain_complete,
        mark_drain_complete,
        stream_index_ingest,
    )
    import uuid

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
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
    out = os.path.join(tempfile.gettempdir(), f"pvs_emb_sidecar9_{base}")
    ck, meta = f"{out}.ck", f"{out}.meta"
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
                "p2", [0.0, 0.0], 1.0, _SC_LEVEL, 2, 2, 2, clamp=False,
            ),
        )
        q = stream_index_ingest(
            stream, assign=assign, out_path=out, checkpoint=ck,
            rebalance=dict(
                meta_path=meta, fine_level=_SC_LEVEL, dim=2, rr=2,
                ratio=2, rank=3,
            ),
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "availableNow drain exceeded 300 s; the sidecar would be "
                "partial — failing loud instead (ADVICE r6)"
            )
        mark_drain_complete(out)
    fc = read_fine_counts(spark, meta)
    n_mapped = read_mapping(spark, meta).count()
    return fc.agg(
        F.count("*").cast("bigint").alias("n_fine_cells"),
        F.sum("count").cast("bigint").alias("n_points"),
        F.max("count").cast("bigint").alias("max_fine_count"),
        F.lit(n_mapped).cast("bigint").alias("n_mapped"),
    )


ORACLE_STREAM_SIDECAR_COUNTS = f"""
WITH cells AS (
  SELECT CONCAT(
    '{_SC_LEVEL}_',
    CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / {_SC_W}) AS BIGINT), '_',
    CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / {_SC_W}) AS BIGINT)
  ) AS cell
  FROM embeddings
), agg AS (
  SELECT cell, count(*) AS c FROM cells GROUP BY cell
)
SELECT CAST(count(*) AS BIGINT) AS n_fine_cells,
       CAST(sum(c) AS BIGINT) AS n_points,
       CAST(max(c) AS BIGINT) AS max_fine_count,
       CAST(count(*) AS BIGINT) AS n_mapped
FROM agg
"""

QUERIES = {
    "multimodal_crossformat_lossy": q_multimodal_crossformat_lossy,
    "stream_sidecar_counts": q_stream_sidecar_counts,
}
#: the crossformat row stays rows-only (binary decode is not
#: SQL-expressible — documented in SURVEY §8.4); the sidecar row is fully
#: hash-checked.
ORACLES: dict[str, str] = {
    "stream_sidecar_counts": ORACLE_STREAM_SIDECAR_COUNTS,
}
