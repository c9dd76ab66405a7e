"""Round-10 queries, registered AFTER the driver's pinned 50-entry window.

- ``stream_leveled_sidecar``: the r10 leveled (LSM) fold machinery
  exercised end-to-end through a real multi-batch drain with a fold
  cadence aggressive enough to fire delta-folds, run merges, AND
  geometric base merges — then the maintained tables are hash-checked
  against DuckDB recomputing the closed-form cell assignment from
  scratch (same fixed power-of-two grid contract as the r9 sidecar
  query, so floor/divide are bit-identical in both engines).
- ``multimodal_avi_pixelsum``: the FIRST fully oracle-checked decode
  query: Spark builds real uncompressed AVI containers
  (``operators/avi.py``), parses them back byte-for-byte through the
  RIFF/DIB walk, and sums the decoded pixels; DuckDB computes the same
  sums from the generator's closed-form gradient formula over
  ``generate_series`` — the two sides share no code, so any codec bug
  (stride padding, BGR swap, bottom-up rows, chunk walk) flips the
  value hash.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyvectorsearch_spark.plans.local import parquet_schema

_SC_LEVEL = 6
_SC_W = 0.015625  # 1.0 * 2**-6, exact power of two (bit-stable floor)

#: generator spec shared by the Spark side (synthetic_media_avi) and the
#: SQL oracle below — any drift between them is a test bug, so both read
#: these constants / this docstring contract: n=24 media, seed=5,
#: w = 8+(i%3)*4, h = 8+((i+1)%2)*4, nf = 6+(i%5),
#: pixel(x,y,fi,c) = (x*37 + y*11 + fi*29 + i*53 + c*17 + seed) % 256.
_AVI_N = 24
_AVI_SEED = 5


def q_stream_leveled_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leveled-fold sidecar invariants, ORACLE-CHECKED (round 10): drain
    the embeddings' 2-d slice through ``stream_index_ingest`` with
    ``fold_every=2, run_merge_k=2`` — across a 12-file drain that fires
    ~6 delta-folds, several run merges, and at least one geometric base
    merge — then read the MAINTAINED tables back and report the same
    count-conservation invariants as ``stream_sidecar_counts``. DuckDB
    recomputes them from scratch with the closed-form cell expression.
    Distinct from the r9 query: this drain's pointer history traverses
    every leveled-merge code path (`index/incremental.py` run_v dirs),
    so a latest-wins precedence bug across base/run/delta boundaries
    flips the hash."""
    import uuid

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

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("p2", F.slice("embedding", 1, 2))
        .select("vec_id", "p2")
    )
    base = dataset_tag(sf_dir, "embeddings")
    landing = os.path.join(
        tempfile.gettempdir(), f"pvs_emb_landing12_{base}"
    )
    if not os.path.isdir(landing):
        tmp = f"{landing}.tmp-{uuid.uuid4().hex[:8]}"
        emb.repartition(12).write.parquet(tmp)
        try:
            os.rename(tmp, landing)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(landing):
                raise
    out = os.path.join(tempfile.gettempdir(), f"pvs_emb_leveled10_{base}")
    ck, meta = f"{out}.ck", f"{out}.meta"
    if not drain_complete(out, ck, meta):
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(meta, ignore_errors=True)
        schema = parquet_schema(spark, landing)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
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
                ratio=2, rank=3, fold_every=2, run_merge_k=2,
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


ORACLE_STREAM_LEVELED_SIDECAR = f"""
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


def q_multimodal_avi_pixelsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode real AVI containers and sum every decoded pixel byte per
    media — the engine side goes encode → RIFF bytes → chunk walk →
    bottom-up-BGR-to-RGB frame decode; the oracle recomputes the sums
    from the generator's arithmetic formula alone (module docstring)."""
    from typing import Iterator

    import pandas as pd

    from pyvectorsearch_spark.operators.avi import parse_avi
    from pyvectorsearch_spark.operators.multimodal import synthetic_media_avi

    media = synthetic_media_avi(spark, _AVI_N, seed=_AVI_SEED)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, nfs, sums = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, frames = parse_avi(bytes(blob))
                mids.append(int(mid))
                nfs.append(len(frames))
                sums.append(sum(sum(f) for f in frames))
            yield pd.DataFrame(
                {"media_id": mids, "n_frames": nfs, "pixel_sum": sums}
            )

    return media.select("media_id", "blob").mapInPandas(
        run, schema="media_id bigint, n_frames bigint, pixel_sum bigint"
    )


ORACLE_MULTIMODAL_AVI_PIXELSUM = f"""
WITH m AS (
  SELECT i,
         8 + (i % 3) * 4 AS w,
         8 + ((i + 1) % 2) * 4 AS h,
         6 + (i % 5) AS nf
  FROM generate_series(0, {_AVI_N - 1}) AS t(i)
), px AS (
  SELECT m.i, m.nf,
         ((x * 37 + y * 11 + fi * 29 + m.i * 53 + c * 17 + {_AVI_SEED})
          % 256) AS v
  FROM m
  JOIN generate_series(0, 10) AS fs(fi) ON fi < m.nf
  JOIN generate_series(0, 15) AS ys(y) ON y < m.h
  JOIN generate_series(0, 15) AS xs(x) ON x < m.w
  JOIN generate_series(0, 2) AS cs(c) ON TRUE
)
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(max(nf) AS BIGINT) AS n_frames,
       CAST(sum(v) AS BIGINT) AS pixel_sum
FROM px
GROUP BY i
"""

def q_multimodal_avi_audio_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decode the interleaved PCM16 audio track of each AVI and report
    sample count / sum / absolute sum — the engine re-assembles the
    stream from the '01wb' movi chunks through the RIFF walk; the oracle
    recomputes the same integers from the generator's closed-form sample
    formula s(i,j) = ((j*131 + i*17 + seed*7) % 4096) - 2048."""
    from typing import Iterator

    import pandas as pd

    from pyvectorsearch_spark.operators.avi import parse_avi_audio
    from pyvectorsearch_spark.operators.multimodal import synthetic_media_avi

    media = synthetic_media_avi(spark, _AVI_N, seed=_AVI_SEED)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, ns, ssum, asum = [], [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rate, samples = parse_avi_audio(bytes(blob))
                assert rate == 16000
                mids.append(int(mid))
                ns.append(len(samples))
                ssum.append(int(samples.astype("int64").sum()))
                asum.append(int(abs(samples.astype("int64")).sum()))
            yield pd.DataFrame({
                "media_id": mids, "n_samples": ns,
                "sample_sum": ssum, "abs_sum": asum,
            })

    return media.select("media_id", "blob").mapInPandas(
        run,
        schema="media_id bigint, n_samples bigint, "
               "sample_sum bigint, abs_sum bigint",
    )


ORACLE_MULTIMODAL_AVI_AUDIO_ENERGY = f"""
WITH m AS (
  SELECT i, 800 + (i % 4) * 200 AS ns
  FROM generate_series(0, {_AVI_N - 1}) AS t(i)
), s AS (
  SELECT m.i,
         ((j * 131 + m.i * 17 + {_AVI_SEED} * 7) % 4096) - 2048 AS v
  FROM m
  JOIN generate_series(0, 1399) AS js(j) ON j < m.ns
)
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sample_sum,
       CAST(sum(abs(v)) AS BIGINT) AS abs_sum
FROM s
GROUP BY i
"""

QUERIES = {
    "stream_leveled_sidecar": q_stream_leveled_sidecar,
    "multimodal_avi_pixelsum": q_multimodal_avi_pixelsum,
    "multimodal_avi_audio_energy": q_multimodal_avi_audio_energy,
}
ORACLES: dict[str, str] = {
    "stream_leveled_sidecar": ORACLE_STREAM_LEVELED_SIDECAR,
    "multimodal_avi_pixelsum": ORACLE_MULTIMODAL_AVI_PIXELSUM,
    "multimodal_avi_audio_energy": ORACLE_MULTIMODAL_AVI_AUDIO_ENERGY,
}
