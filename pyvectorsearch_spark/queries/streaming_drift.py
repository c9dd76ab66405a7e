"""Streaming drift monitoring (outside the driver's pinned 50-entry window;
covered by tests/test_oracle_parity.py).

The continuous form of `events_psi_drift`: the STREAMING ENGINE builds the
per-(event_type, bucket) cohort histogram over a multi-batch event stream
(complete-mode stateful aggregate — the only state is groups x buckets
rows), and the batch-side `psi_from_histogram` fold turns the tiny result
into PSI. The oracle is the identical batch SQL, so the hash match verifies
the streaming execution end to end.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyvectorsearch_spark.operators.quality import psi_from_histogram
from pyvectorsearch_spark.plans.local import parquet_schema
from pyvectorsearch_spark.queries.quality_extra import (
    ORACLE_EVENTS_PSI,
    PSI_BUCKET_W,
    PSI_BUCKETS,
    PSI_EPS,
    PSI_SPLIT_DAY,
)
from pyvectorsearch_spark.sources.tables import dataset_tag, load_table


def _events_landing(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Multi-file landing copy of events (snapshot-keyed, atomically
    published) so the file stream delivers real multi-batch arrival."""
    base = dataset_tag(sf_dir, "events")
    path = os.path.join(tempfile.gettempdir(), f"pvs_events_landing8_{base}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        load_table(spark, sf_dir, "events").repartition(n_files).write.parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(path):
                raise
    return path


def q_events_psi_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift computed from a STREAMED histogram: the stateful streaming
    aggregate holds only (event_type, bucket) cohort counts; the PSI fold
    runs on that drained result. Same parameters as `events_psi_drift`, so
    the batch oracle applies verbatim."""
    path = _events_landing(spark, sf_dir)
    schema = parquet_schema(spark, path)
    stream = spark.readStream.schema(schema).parquet(path)
    b = F.least(
        F.floor(F.col("value") / PSI_BUCKET_W).cast("int"), F.lit(PSI_BUCKETS - 1)
    )
    hist = (
        stream.select(
            "event_type",
            b.alias("_b"),
            (F.dayofmonth(F.col("ts").cast("timestamp")) >= PSI_SPLIT_DAY).alias(
                "_cur"
            ),
        )
        .groupBy("event_type", "_b")
        .agg(
            F.sum(F.when(~F.col("_cur"), 1).otherwise(0)).alias("_nb"),
            F.sum(F.when(F.col("_cur"), 1).otherwise(0)).alias("_nc"),
        )
    )
    name = f"events_psi_stream_{uuid.uuid4().hex[:8]}"
    q = (
        hist.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "availableNow drain exceeded 300 s; the memory sink "
            "would be partial — failing loud instead (ADVICE r6)"
        )
    return psi_from_histogram(spark.table(name), by="event_type", eps=PSI_EPS).orderBy(
        "event_type"
    )


def q_events_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch built BY THE STREAMING ENGINE: the
    stateful complete-mode aggregate holds exactly the mergeable HLL state
    (per-(event_type, register) rank maxima — m rows/group, the textbook
    bounded-state streaming distinct), drained after the multi-batch
    arrival; the estimate fold runs on the drained registers. Same
    hash/register/estimator ladder as `sketch_hll_users`, so a batch SQL
    oracle verifies the streamed sketch bit-for-bit."""
    import uuid as _uuid

    from pyvectorsearch_spark.operators.sketches import hll_fold, hll_registers

    path = _events_landing(spark, sf_dir)
    schema = parquet_schema(spark, path)
    stream = spark.readStream.schema(schema).parquet(path)
    # the SAME operator as the batch sketch (select + groupBy/agg only, so
    # it runs unchanged on a streaming DataFrame) — streamed and batch
    # register state cannot drift apart
    reg = hll_registers(stream, by="event_type", value_col="user_id")
    name = f"events_hll_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        reg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "availableNow drain exceeded 300 s; the memory sink "
            "would be partial — failing loud instead (ADVICE r6)"
        )
    return hll_fold(spark.table(name), by="event_type").orderBy("event_type")


def _hll_stream_oracle() -> str:
    from pyvectorsearch_spark.operators.sketches import duckdb_hll_sql

    inner = duckdb_hll_sql("events", "event_type", "user_id")
    return f"""
WITH u AS ({inner})
SELECT grp AS event_type, hll_estimate, n_empty_registers, harmonic_scaled
FROM u ORDER BY event_type
"""


ORACLE_EVENTS_HLL_STREAM = _hll_stream_oracle()


QUERIES = {"events_psi_stream": q_events_psi_stream,
           "events_hll_stream": q_events_hll_stream}
ORACLES = {"events_psi_stream": ORACLE_EVENTS_PSI,
           "events_hll_stream": ORACLE_EVENTS_HLL_STREAM}


# --- streamed conformal anomaly gate ----------------------------------------

CFS_ALPHA = 0.1
CFS_CAL_FRAC = 0.7


def q_events_conformal_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online anomaly gating with CALIBRATED uncertainty: the STREAMING
    ENGINE maintains the per-(event_type, hour) counts (the only state —
    groups x observed-buckets rows); the drained result is split in event
    time into a calibration prefix and a live tail, the hour-of-day
    profile + split-conformal radius (same construction as
    `events_conformal_forecast`) come from the prefix, and the tail is
    flagged where |n - expected| exceeds the radius. Per type: radius,
    flag counts, flag rate. The batch oracle recomputes the identical
    pipeline from raw events, so the hash match verifies the streaming
    execution end to end."""
    from pyspark.sql import Window

    path = _events_landing(spark, sf_dir)
    schema = parquet_schema(spark, path)
    stream = spark.readStream.schema(schema).parquet(path)
    be = (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600) * 3600).cast(
        "bigint"
    )
    cnt = (
        stream.select("event_type", be.alias("be"))
        .groupBy("event_type", "be")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    name = f"events_conformal_stream_{uuid.uuid4().hex[:8]}"
    q = (
        cnt.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "availableNow drain exceeded 300 s; the memory sink "
            "would be partial — failing loud instead (ADVICE r6)"
        )
    t = spark.table(name)

    lims = t.agg(F.min("be").alias("mn"), F.max("be").alias("mx"))
    cut = lims.select(
        (
            F.col("mn")
            + F.floor(
                F.lit(CFS_CAL_FRAC) * ((F.col("mx") - F.col("mn")) / 3600.0)
            ).cast("bigint")
            * 3600
        ).alias("cutoff")
    )
    t2 = t.crossJoin(F.broadcast(cut)).withColumn(
        "hod", ((F.col("be") / 3600).cast("bigint") % 24)
    )
    cal = t2.filter(F.col("be") < F.col("cutoff"))
    # rename the profile keys: prof derives from t2, and joining it back
    # to other t2 branches trips Spark's conflicting-reference check
    prof = (
        cal.groupBy("event_type", "hod")
        .agg(F.round(F.avg("n"), 6).alias("expected"))
        .select(
            F.col("event_type").alias("p_et"),
            F.col("hod").alias("p_hod"),
            "expected",
        )
    )
    calr = cal.join(
        prof,
        (F.col("event_type") == F.col("p_et")) & (F.col("hod") == F.col("p_hod")),
    ).withColumn("r", F.round(F.abs(F.col("n") - F.col("expected")), 6))
    wq = Window.partitionBy("event_type").orderBy(
        F.col("r").asc(), F.col("be").asc()
    )
    ncal = calr.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_cal")
    ).select(F.col("event_type").alias("n_et"), "n_cal")
    k = F.least(
        F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CFS_ALPHA)).cast("bigint"),
        F.col("n_cal"),
    )
    qrad = (
        calr.join(F.broadcast(ncal), F.col("event_type") == F.col("n_et"))
        .withColumn("_qr", F.row_number().over(wq))
        .filter(F.col("_qr") == k)
        .select(
            F.col("event_type").alias("q_et"),
            F.col("r").alias("q_radius"),
            "n_cal",
        )
    )
    test = (
        t2.filter(F.col("be") >= F.col("cutoff"))
        .join(
            prof,
            (F.col("event_type") == F.col("p_et"))
            & (F.col("hod") == F.col("p_hod")),
        )
        .join(F.broadcast(qrad), F.col("event_type") == F.col("q_et"))
        .withColumn(
            "_flag",
            (F.round(F.abs(F.col("n") - F.col("expected")), 6) > F.col("q_radius"))
            .cast("long"),
        )
    )
    return (
        test.groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").cast("bigint").alias("n_test"),
            F.max("q_radius").alias("q_radius"),
            F.sum("_flag").cast("bigint").alias("n_flagged"),
            F.round(F.avg(F.col("_flag").cast("double")), 6).alias("flag_rate"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_CONFORMAL_STREAM = f"""
WITH cnt AS (
  SELECT event_type,
         (CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600) AS be,
         count(*)::BIGINT AS n
  FROM events GROUP BY event_type, be
),
lims AS (SELECT min(be) AS mn, max(be) AS mx FROM cnt),
cut AS (
  SELECT mn + CAST(floor({CFS_CAL_FRAC} * ((mx - mn) / 3600.0)) AS BIGINT)
         * 3600 AS cutoff
  FROM lims
),
t2 AS (
  SELECT c.*, (CAST(be / 3600 AS BIGINT) % 24) AS hod, cut.cutoff
  FROM cnt c CROSS JOIN cut
),
cal AS (SELECT * FROM t2 WHERE be < cutoff),
prof AS (
  SELECT event_type, hod, round(avg(n), 6) AS expected
  FROM cal GROUP BY event_type, hod
),
calr AS (
  SELECT c.event_type, c.be, round(abs(c.n - p.expected), 6) AS r
  FROM cal c JOIN prof p ON p.event_type = c.event_type AND p.hod = c.hod
),
ncal AS (SELECT event_type, count(*)::BIGINT AS n_cal FROM calr GROUP BY event_type),
qrad AS (
  SELECT event_type, r AS q_radius, n_cal FROM (
    SELECT cr.event_type, cr.r, n.n_cal,
           row_number() OVER (PARTITION BY cr.event_type
                              ORDER BY cr.r ASC, cr.be ASC) AS qr
    FROM calr cr JOIN ncal n ON n.event_type = cr.event_type
  ) WHERE qr = least(CAST(ceil((n_cal + 1) * {1.0 - CFS_ALPHA}) AS BIGINT),
                     n_cal)
),
test AS (
  SELECT t.event_type, q.n_cal, q.q_radius,
         CASE WHEN round(abs(t.n - p.expected), 6) > q.q_radius
              THEN 1 ELSE 0 END AS flag
  FROM t2 t
  JOIN prof p ON p.event_type = t.event_type AND p.hod = t.hod
  JOIN qrad q ON q.event_type = t.event_type
  WHERE t.be >= t.cutoff
)
SELECT event_type, max(n_cal)::BIGINT AS n_cal, count(*)::BIGINT AS n_test,
       max(q_radius) AS q_radius, sum(flag)::BIGINT AS n_flagged,
       round(avg(flag * 1.0), 6) AS flag_rate
FROM test GROUP BY event_type ORDER BY event_type
"""

QUERIES.update({"events_conformal_stream": q_events_conformal_stream})
ORACLES.update({"events_conformal_stream": ORACLE_EVENTS_CONFORMAL_STREAM})
