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
