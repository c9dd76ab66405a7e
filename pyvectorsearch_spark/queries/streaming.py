"""Streaming queries for the driver contract — each runs a REAL Structured
Streaming pipeline (file source → watermarked agg → availableNow → memory
sink) and returns the materialized result, so the DuckDB oracle checks the
streaming execution path itself, not a batch stand-in."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyvectorsearch_spark.sources.tables import load_table
from pyvectorsearch_spark.streaming.ingest import (
    deduplicated_stream,
    sessionized_stream,
    stateful_running_counts,
    stream_stream_interval_join,
    windowed_event_counts,
)


def _nested_nullable(t) -> bool:
    """True when every field NESTED in arrow type ``t`` (struct members,
    list elements, map values) is nullable, recursively. Map keys are
    exempt: arrow requires them and Spark's MapType records no key
    nullability."""
    import pyarrow.types as pat

    if pat.is_struct(t):
        return all(f.nullable and _nested_nullable(f.type) for f in t)
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return t.value_field.nullable and _nested_nullable(t.value_type)
    if pat.is_map(t):
        return (
            t.item_field.nullable
            and _nested_nullable(t.key_type)
            and _nested_nullable(t.item_type)
        )
    return True


def _local_parquet_schema(path: str):
    """Parquet schema from local FOOTER METADATA (≈1 ms) — byte-identical
    to ``spark.read.parquet(path).schema`` (~130 ms of driver listing +
    footer job per call, paid per STREAM CONSTRUCTION before this r10
    optimization). None on any miss → caller falls back to the Spark read."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        local = path[len("file:"):] if path.startswith("file:") else path
        import pyarrow as pa

        if os.path.isdir(local):
            cands = sorted(
                f for f in os.listdir(local)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if not cands:
                return None
            # Schema-evolved landing dirs (multiple distinct file schemas)
            # need Spark's own merge semantics — fall back (ADVICE r10).
            arrow = pq.ParquetFile(os.path.join(local, cands[0])).schema_arrow
            for extra in cands[1:]:
                if pq.ParquetFile(os.path.join(local, extra)).schema_arrow != arrow:
                    return None
        else:
            arrow = pq.ParquetFile(local).schema_arrow
        # Spark's file source reads every column as nullable whatever the
        # footer says; a non-Spark writer emitting required fields must not
        # yield a different StructType here (ADVICE r10). Spark relaxes
        # nested fields too, so a required field below the top level
        # falls back to the Spark read (ADVICE r11).
        if not all(_nested_nullable(f.type) for f in arrow):
            return None
        arrow = pa.schema([f.with_nullable(True) for f in arrow])
        # ns timestamps go through the nanosAsLong conf on the Spark read
        # path (→ bigint) — keep that behavior by not short-circuiting
        if any(
            isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
            for f in arrow
        ):
            return None
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except Exception:
        return None


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (glob-filtered; ns→µs ts)."""
    load_table(spark, sf_dir, "events")  # sets the nanosAsLong conf
    raw_schema = (
        _local_parquet_schema(f"{sf_dir}/events.parquet")
        or spark.read.parquet(f"{sf_dir}/events.parquet").schema
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (LTZ). The session timezone is pinned
        # to UTC, so this cast preserves the wall-clock value exactly.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _scaled_state_parts(spark: SparkSession, sf_dir: str, table: str = "events") -> int:
    """Stateful-operator partition count derived from the INPUT SIZE, not
    the core count: every streaming state partition pays a state-store
    open/commit per micro-batch, so 32 partitions over a 3 MB source is
    pure overhead (measured 1.57 s → 1.00 s per drain at sf0.1, r10
    optimization round), while a fixed small constant would throttle a real
    deployment. One partition per ~32 MB of source, floor 8, capped at the
    session's configured shuffle parallelism — at 100 TB this saturates the
    cap and the setting is a no-op."""
    try:
        path = os.path.join(sf_dir, f"{table}.parquet")
        size = (
            sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
            if os.path.isdir(path)
            else os.path.getsize(path)
        )
    except OSError:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # cap wins over the floor: a session configured below 8 partitions must
    # never be silently raised above its own setting (ADVICE r10)
    return max(1, min(cap, max(8, (size + (32 << 20) - 1) // (32 << 20))))


def _drain(
    out: DataFrame,
    name_prefix: str,
    mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> str:
    """Run a streaming DataFrame to completion into a memory sink.

    ``shuffle_partitions`` (from ``_scaled_state_parts``) pins the stateful
    operators' partition count for THIS drain; the session conf is restored
    before returning (the drain is synchronous, so the change cannot leak
    into a concurrently-built plan in these single-threaded harnesses)."""
    spark = out.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "availableNow drain exceeded 300 s; the memory sink "
                "would be partial — failing loud instead (ADVICE r6)"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


def _events_landing(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Multi-file landing copy of the events table (atomically published,
    built once per source SNAPSHOT — mtime-keyed so regenerated testdata
    never streams stale events) so the file stream delivers REAL
    multi-batch arrival — one micro-batch per file — instead of one big
    batch."""
    from pyvectorsearch_spark.sources.tables import dataset_tag

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


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts per event_type, computed BY THE
    STREAMING ENGINE (watermark + window, availableNow drain). Equivalent to
    the batch ``events_hourly`` rollup; the oracle is plain SQL."""
    out = windowed_event_counts(
        _event_stream(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    name = _drain(out, "events_hourly_stream",
                  shuffle_partitions=_scaled_state_parts(spark, sf_dir))
    return spark.table(name).select(
        F.col("window_start").alias("hour"),
        "event_type",
        F.col("n_events").alias("n"),
        F.round("sum_value", 6).alias("total_value"),
    )


ORACLE_HOURLY_STREAM = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""

def q_events_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user, computed BY THE STREAMING ENGINE
    (``session_window`` stateful aggregation — merging window state per key,
    the streaming analog of the batch lag-gap ``sessionize_events``).
    Boundary rule (verified empirically): events exactly ``gap`` apart MERGE;
    a new session starts only when the gap is strictly exceeded — hence the
    oracle's ``> 1800``. ``session_end`` is last event + gap."""
    stream = _event_stream(spark, sf_dir).filter(F.col("user_id") < 50)
    out = sessionized_stream(stream, gap="30 minutes", watermark="2 hours")
    name = _drain(out, "events_sessions_stream",
                  shuffle_partitions=_scaled_state_parts(spark, sf_dir))
    return spark.table(name).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


ORACLE_SESSIONS_STREAM = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts) > 1800.0
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events WHERE user_id < 50
), sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS session_idx
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess GROUP BY user_id, session_idx
"""

def q_events_user_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running (count, sum) carried across 8 real micro-batches; the
    final emission per user equals the batch aggregate whatever the row →
    batch split was, so the plain GROUP BY is an exact oracle. Downstream
    ``max_by`` picks each user's last emission (running_count strictly
    increases — a key only emits on batches that contain its rows)."""
    landing = _events_landing(spark, sf_dir)
    schema = (
        _local_parquet_schema(landing)
        or spark.read.parquet(landing).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out = stateful_running_counts(stream)
    name = _drain(out, "events_user_state_stream", mode="append",
                  shuffle_partitions=_scaled_state_parts(spark, sf_dir))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("running_count").alias("n_events"),
            F.round(F.max_by("running_sum", "running_count"), 6).alias(
                "total_value"
            ),
        )
    )


ORACLE_USER_STATE_STREAM = """
SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS total_value
FROM events GROUP BY user_id
"""

def q_click_purchase_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join BY THE STREAMING ENGINE: every click
    matched to same-user purchases within the following 30 minutes, both
    sides watermarked (join state evicted by event time). Downstream batch
    agg keeps the result small: pairs + distinct purchases per user."""
    clicks = _event_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(F.col("event_id").alias("click_id"), "user_id", "ts")
    purchases = _event_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    joined = stream_stream_interval_join(
        clicks,
        purchases,
        key_col="user_id",
        left_ts="ts",
        right_ts="p_ts",
        max_lag="30 minutes",
        watermark="2 hours",
    )
    name = _drain(joined, "click_purchase_join_stream", mode="append",
                  shuffle_partitions=_scaled_state_parts(spark, sf_dir))
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


ORACLE_CLICK_PURCHASE_JOIN = """
SELECT c.user_id, count(*) AS n_pairs,
       count(DISTINCT p.event_id) AS n_purchases,
       round(sum(p.value), 6) AS total_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id
"""


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup across 8 REAL micro-batches: first arrival per
    (user_id, event_type) wins; state carries the seen-key set between
    batches, so the distinct count is exact whatever the file → batch split.
    The streaming face of the batch ``dedup_exact`` operator."""
    landing = _events_landing(spark, sf_dir)
    schema = (
        _local_parquet_schema(landing)
        or spark.read.parquet(landing).schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    out = deduplicated_stream(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    name = _drain(out, "events_dedup_stream", mode="append",
                  shuffle_partitions=_scaled_state_parts(spark, sf_dir))
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


ORACLE_DEDUP_STREAM = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "events_hourly_stream": q_events_hourly_stream,
    "events_sessions_stream": q_events_sessions_stream,
    "events_user_state_stream": q_events_user_state_stream,
    "click_purchase_join_stream": q_click_purchase_join_stream,
    "events_dedup_stream": q_events_dedup_stream,
}
ORACLES = {
    "events_hourly_stream": ORACLE_HOURLY_STREAM,
    "events_sessions_stream": ORACLE_SESSIONS_STREAM,
    "events_user_state_stream": ORACLE_USER_STATE_STREAM,
    "click_purchase_join_stream": ORACLE_CLICK_PURCHASE_JOIN,
    "events_dedup_stream": ORACLE_DEDUP_STREAM,
}
