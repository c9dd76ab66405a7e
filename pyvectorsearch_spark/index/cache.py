"""Build-or-load caching for persistent index artifacts.

An index is a durable dataset, not a per-query temporary: build it once,
write it (cell-partitioned parquet + descriptor), and let every subsequent
query load it — the same lifecycle a 100 TB deployment has, where the index
build is a scheduled batch job and queries only ever read. (The reference
has no index persistence at all — its tree dies with the process,
``/root/reference/include/pktree.hpp:1211-1214`` — so this surface is
Spark-native, not parity.)

Writes are atomic: build into a temp directory next to the target, then
``os.rename`` into place; a concurrent builder that loses the race just
loads the winner's artifact. Cache keys are caller-chosen names that must
encode every build parameter + the source dataset identity; the default
root lives under the system temp dir and is versioned so format changes
never read stale layouts.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

FORMAT_VERSION = 2

T = TypeVar("T")


def cache_root() -> str:
    return os.environ.get(
        "PYVECTORSEARCH_INDEX_CACHE",
        os.path.join(tempfile.gettempdir(), f"pyvectorsearch_index_v{FORMAT_VERSION}"),
    )


def cache_path(name: str) -> str:
    return os.path.join(cache_root(), name)


def read_small_sidecar(path: str, columns: list[str] | None = None):
    """Driver-side pyarrow read of a SMALL index sidecar (meta/centroids/
    codebook tables — tens of rows to a few thousand), returning a list of
    plain-dict rows.

    Index ``load()`` paths used to fetch these with ``spark.read.parquet(...)
    .collect()`` / ``.first()`` — one or two full Spark jobs (scheduler +
    task launch + Python round trip) per *query invocation* just to move a
    handful of rows to the driver (measured 0.2-0.4 s per load on local[32],
    r10 optimization round). A local columnar read is microseconds and
    byte-identical. Returns ``None`` when the path is not a local directory
    (object-store / HDFS deployments) so callers can keep the Spark read as
    the fallback; the big ``data`` table is NEVER read this way.
    """
    local = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.isdir(local):
        return None
    try:
        import pyarrow.parquet as pq

        return pq.read_table(local, columns=columns).to_pylist()
    except Exception:
        return None


def _local_parquet_files(path: str) -> list[str] | None:
    local = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.isdir(local):
        return None
    files = sorted(
        os.path.join(local, f)
        for f in os.listdir(local)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    return files or None


def local_write_dir(spark: SparkSession, path: str) -> str | None:
    """The local filesystem path Spark would write ``path`` to, or None when
    it would write elsewhere: a ``file:`` URI, or a scheme-less path while
    the Hadoop default filesystem is the local one. The target need not
    exist yet, which is why this is not ``_local_parquet_files``' isdir
    test."""
    if path.startswith("file:"):
        return path[len("file:"):]
    if "://" in path:
        return None
    fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return path if fs.startswith("file:") else None


def _nullable_type(t):
    import pyarrow as pa
    import pyarrow.types as pat

    def relax(f):
        return f.with_type(_nullable_type(f.type)).with_nullable(True)

    if pat.is_struct(t):
        return pa.struct([relax(f) for f in t])
    if pat.is_large_list(t):
        return pa.large_list(relax(t.value_field))
    if pat.is_list(t):
        return pa.list_(relax(t.value_field))
    if pat.is_map(t):
        return pa.map_(t.key_field, relax(t.item_field))
    return t


def write_table_local(table, out_dir: str, mode: str = "overwrite", files: int = 1) -> None:
    """Write a driver-held Arrow table as the parquet directory Spark's
    ``df.write.mode(mode).parquet(out_dir)`` leaves: ``files`` part files in
    row order, every field nullable (Spark writes them so, and reads its
    own files back so), so ``spark.read.parquet`` gives the schema it gives
    for Spark's own write. ``mode`` is "overwrite", "append" or "ignore";
    callers leave "error" to Spark, which raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if mode not in ("overwrite", "append", "ignore"):
        raise ValueError(f"unsupported local write mode {mode!r}")
    if os.path.exists(out_dir):
        if mode == "ignore":
            return
        if mode == "overwrite":
            shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema(
        [f.with_type(_nullable_type(f.type)).with_nullable(True) for f in table.schema]
    )
    table = table.cast(schema)
    tag = uuid.uuid4().hex
    step = -(-table.num_rows // max(files, 1)) or 1
    for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(
            table.slice(start, step), os.path.join(out_dir, f"part-{i:05d}-{tag}.parquet")
        )


def sidecar_num_rows(path: str) -> int | None:
    """Row count of a local parquet directory from FOOTER METADATA only —
    no data pages are read, so this is safe on arbitrarily large tables.
    None when the path is not a local parquet directory."""
    files = _local_parquet_files(path)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def read_sidecar_head(path: str, columns: list[str] | None = None):
    """First row of a local parquet directory as a plain dict, reading one
    row group of one file — the bounded replacement for ``df.first()`` on
    tables whose every row carries the same descriptor columns. None when
    unavailable (caller falls back to the Spark read)."""
    files = _local_parquet_files(path)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        for f in files:
            pf = pq.ParquetFile(f)
            if pf.metadata.num_rows == 0:
                continue
            rows = pf.read_row_group(0, columns=columns).slice(0, 1).to_pylist()
            if rows:
                return rows[0]
        return None
    except Exception:
        return None


def build_or_load(
    spark: SparkSession,
    name: str,
    *,
    load: Callable[[SparkSession, str], T],
    build: Callable[[], T],
    write: Callable[[T, str], None] | None = None,
) -> T:
    """Return ``load(spark, path)`` for the cached artifact ``name``,
    building (and atomically publishing) it first on a cache miss.

    ``write`` defaults to ``lambda idx, path: idx.write(path)``.
    """
    path = cache_path(name)
    if os.path.isdir(path):
        return load(spark, path)
    idx = build()
    os.makedirs(cache_root(), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        (write or (lambda i, p: i.write(p)))(idx, tmp)
        os.rename(tmp, path)
    except OSError:
        # lost a publish race (or cannot rename): drop our copy, use winner's
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise
    return load(spark, path)
