"""The reference-shaped public API (SURVEY.md §2.5).

The reference exposes 8 entry points total (``pktree(...)`` / ``init`` /
``clear`` / ``insert`` / ``search_knn`` / ``search_range`` and the ``pkmap``
wrapper, ``/root/reference/include/pktree.hpp:948,933,1262,1401``). This
module is their Spark-native equivalent, as sketched in SURVEY.md §2.5:

    idx = VectorIndex.build(df, vec_col="embedding", rank=3, rr=2, ratio=2)
    idx.knn(queries_df, k=5)           # -> (query_id, neighbor_id, dist, rank, *payload)
    idx.range(queries_df, radius=0.1)  # -> (query_id, neighbor_id, dist, *payload)
    idx.write(path); VectorIndex.load(spark, path)
    knn_bruteforce(df, queries_df, k)  # exact, index-free oracle

``VectorIndex`` is the grid (PK-tree-analog) index; ``pkmap``-style payload
columns simply ride along in the row (pass ``payload=[...]`` to searches).
``insert``-style incremental arrival is ``streaming.ingest`` (SURVEY §3.1);
``clear``/``init`` are dropping/recreating the persisted dataset.
"""

from __future__ import annotations

from pyvectorsearch_spark.index.grid import GridIndex as VectorIndex  # noqa: F401
from pyvectorsearch_spark.index.ivf import IVFIndex  # noqa: F401
from pyvectorsearch_spark.index.pq import IVFPQIndex  # noqa: F401
from pyvectorsearch_spark.index.sq import SQ8Index  # noqa: F401
from pyvectorsearch_spark.operators.knn import (  # noqa: F401
    knn_join as knn_bruteforce,
    range_join as range_bruteforce,
    topk_global,
)
