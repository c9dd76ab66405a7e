"""Driver-sized parquet and Arrow I/O: every read or write that moves a small
table between the driver and parquet or Spark without a Spark job.

The reference persists nothing — its tree dies with the process
(the reference's ``pktree.hpp:1211-1214``) — so every driver-side
read and write of an index artifact is Spark-native, and this module owns
their contract. Each helper keeps four rules:

- **One fail-closed size gate.** ``_DRIVER_READ_BYTES`` (64 MiB) is the one
  bound, read at call time, so one setting forces every driver branch:
  ``arrow_rows`` reads a DataFrame into Arrow only when ``plan_bytes_below``
  knows its plan is under it, and ``fits`` applies it to bytes measured on
  disk. The sidecar reads serve tables their callers know are small.
- **Local paths only.** ``local_path`` is the one rule for reads and writes:
  a ``file:`` URI, or a scheme-less path while the Hadoop default
  filesystem is the local one. Any other path goes through Spark.
- **Every field nullable, both ways.** Spark writes every field nullable and
  reads every field back so, nested ones included (the file source reads
  ``dataSchema.asNullable``). ``_relax`` is that rule for Arrow types; it
  shapes what ``write_table`` writes and what ``parquet_schema`` reads.
- **Spark's schema.** A read returns what ``spark.read.parquet`` gives for
  the same path. Where the footers cannot promise that (ns timestamps,
  files of differing schemas) or the path is not local, the read runs
  through Spark itself, so no caller keeps a fallback of its own.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from pyvectorsearch_spark.plans.inspect import plan_bytes_below

#: the driver-read gate: ~15 B/row on the streamed sidecar's schemas, so
#: ~4M state rows; a driver-sized build input or micro-batch at 64 MiB
_DRIVER_READ_BYTES = 64 << 20


def fits(nbytes: int) -> bool:
    """True when ``nbytes`` of parquet on disk is within the gate."""
    return nbytes <= _DRIVER_READ_BYTES


def local_path(spark: SparkSession, path: str) -> str | None:
    """The local filesystem path Spark resolves ``path`` to, or None when it
    resolves elsewhere. The target need not exist yet."""
    if path.startswith("file:"):
        return path[len("file:"):]
    if "://" in path:
        return None
    fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return path if fs.startswith("file:") else None


def _files(spark: SparkSession, path: str) -> list[str] | None:
    """The parquet files of a local table in name order: the file itself, or
    a directory's top-level data files. None when ``path`` is not local, is
    absent, or holds none (a partitioned layout is Spark's to read)."""
    local = local_path(spark, path)
    if local is None:
        return None
    if os.path.isfile(local):
        return [local]
    if not os.path.isdir(local):
        return None
    files = sorted(
        os.path.join(local, f)
        for f in os.listdir(local)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    return files or None


def _relax(t):
    """Arrow type ``t`` with every nested field nullable, as Spark's
    ``asNullable``. A map's key field stays required (Arrow requires it and
    Spark's MapType records no key nullability); its type is relaxed."""
    import pyarrow as pa
    import pyarrow.types as pat

    if pat.is_struct(t):
        return pa.struct([_nullable(f) for f in t])
    if pat.is_large_list(t):
        return pa.large_list(_nullable(t.value_field))
    if pat.is_fixed_size_list(t):
        return pa.list_(_nullable(t.value_field), t.list_size)
    if pat.is_list(t):
        return pa.list_(_nullable(t.value_field))
    if pat.is_map(t):
        return pa.map_(t.key_field.with_type(_relax(t.key_type)), _nullable(t.item_field))
    return t


def _nullable(f):
    return f.with_type(_relax(f.type)).with_nullable(True)


def _relaxed(schema):
    import pyarrow as pa

    return pa.schema([_nullable(f) for f in schema])


def _footer_schema(files: list[str]):
    """Spark's schema for ``files`` from their footers alone (≈1 ms), or None
    where a footer cannot promise it: files of differing schemas need
    Spark's merge rules, and ns timestamps its ``nanosAsLong`` conf. An
    unreadable footer or a type PySpark cannot map also gives None."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        arrow = pq.read_schema(files[0])
        if any(pq.read_schema(f) != arrow for f in files[1:]):
            return None
        if any(pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in arrow):
            return None
        return from_arrow_schema(_relaxed(arrow), prefer_timestamp_ntz=True)
    except (OSError, pa.ArrowException, TypeError):
        return None


def parquet_schema(spark: SparkSession, path: str):
    """``spark.read.parquet(path).schema``, from the local footers when they
    give it: Spark's read pays a listing and a footer job (~130 ms) per
    call, paid per stream construction by the streaming queries."""
    files = _files(spark, path)
    schema = _footer_schema(files) if files else None
    return spark.read.parquet(path).schema if schema is None else schema


def read_rows(spark: SparkSession, path: str, columns: list[str] | None = None) -> list[dict]:
    """A small table's rows as plain dicts, in no set order: one pyarrow read
    when local (microseconds), else one Spark collect. For index sidecars
    (meta, centroids, codebooks, stats under ``DRIVER_STATS_MAX_CELLS``) that
    ``load()`` would otherwise fetch with a Spark job per invocation; a
    caller that cannot bound the table's size must not use it."""
    files = _files(spark, path)
    if files is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            return pq.read_table(files, columns=columns).to_pylist()
        except (OSError, pa.ArrowException):  # a file pyarrow cannot read
            pass
    df = spark.read.parquet(path)
    return [r.asDict() for r in (df.select(*columns) if columns else df).collect()]


def num_rows(spark: SparkSession, path: str) -> int | None:
    """Row count of a local table from footer metadata alone (no data page
    is read, so any size is safe); None when not local."""
    files = _files(spark, path)
    if files is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except (OSError, pa.ArrowException):
        return None


def read_head(spark: SparkSession, path: str, columns: list[str]) -> dict | None:
    """The first row of a table as a dict, for tables whose every row
    carries the same descriptor columns: one row group of one file when
    local, else Spark's ``first()``. None on an empty table."""
    files = _files(spark, path)
    if files is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            for f in files:
                pf = pq.ParquetFile(f)
                if pf.metadata.num_rows:
                    return pf.read_row_group(0, columns=columns).slice(0, 1).to_pylist()[0]
            return None
        except (OSError, pa.ArrowException):
            pass
    row = spark.read.parquet(path).select(*columns).first()
    return None if row is None else row.asDict()


def arrow_rows(df: DataFrame):
    """``df``'s rows as one Arrow table, read with one ``toArrow`` job, when
    its plan is known to be under the gate (the fail-closed
    ``plan_bytes_below``) and its schema converts to Arrow; else None, and
    the caller keeps its Spark branch."""
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.types import to_arrow_schema

    if not plan_bytes_below(df, _DRIVER_READ_BYTES):
        return None
    try:
        to_arrow_schema(df.schema, error_on_duplicated_field_names_in_struct=True)
    except PySparkException:  # a type or struct Arrow cannot hold
        return None
    return df.toArrow()


def to_df(spark: SparkSession, cols: dict, schema) -> DataFrame:
    """Driver-held columns -> DataFrame via pandas + Arrow. ``schema`` is a
    DDL string or a StructType.

    createDataFrame over a plain tuple list takes the row-at-a-time
    pickle/verify path (measured ~10 s for a 45k-row delta). This build
    ships with ``spark.sql.execution.arrow.pyspark.enabled=false``, so the
    pandas path ALSO row-converts unless the flag is on (a 154k-row frame
    cost 7.3 s without Arrow, 2.4 s with): it is set around the call and
    the caller's setting restored after."""
    import pandas as pd

    conf_key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "true")
        return spark.createDataFrame(pd.DataFrame(cols), schema)
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)


def write_table(table, out_dir: str, mode: str = "overwrite", files: int = 1) -> None:
    """Write a driver-held Arrow table to the local directory ``out_dir`` (a
    ``local_path``) as the parquet Spark's ``df.write.mode(mode)`` leaves:
    ``files`` part files in row order, every field nullable, so
    ``spark.read.parquet`` gives the schema it gives for Spark's own write.
    ``mode`` is "overwrite", "append" or "ignore"; callers leave "error" to
    Spark, which raises."""
    import pyarrow.parquet as pq

    if mode not in ("overwrite", "append", "ignore"):
        raise ValueError(f"unsupported local write mode {mode!r}")
    if os.path.exists(out_dir):
        if mode == "ignore":
            return
        if mode == "overwrite":
            shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    table = table.cast(_relaxed(table.schema))
    tag = uuid.uuid4().hex
    step = -(-table.num_rows // max(files, 1)) or 1
    for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(
            table.slice(start, step), os.path.join(out_dir, f"part-{i:05d}-{tag}.parquet")
        )
