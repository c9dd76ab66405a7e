"""GridIndex — the Spark-native PK-tree.

The reference's index (``/root/reference/include/pktree.hpp``) is a pointer
tree over a deterministic grid decomposition: axis ``c`` at level ``l`` has
been sliced ``floor((l*rr + dim - c - 1)/dim)`` times (``pktree.hpp:357-363``),
each slice dividing cell width by ``ratio`` (``:373-379``); a node exists only
while it would own ≥ ``rank`` occupants (K-instantiation, ``:587-635``).

Because the geometry is closed-form, the Spark index needs **no tree at all**
(SURVEY.md §1.3): any executor computes any cell id with pure arithmetic.

- **Build** = a validity census with the min/max corner (origin/extent —
  the batch analog of ``grow_root_to_cover_point``, ``pktree.hpp:841-929``)
  + fine-level cell counts + a bottom-up coalesce of under-full cells into
  parents over the tiny stats table (the batch analog of the insert-time
  rebalancing cascade, ``pktree.hpp:587-929,1288-1354`` — ~420 LoC of pointer
  surgery replaced by a loop of small aggregations). An input under the
  driver-read gate is read once with ``toArrow`` and all of it runs in numpy
  on the driver, as the reference builds in one process
  (``example_cpp/main.cpp``: CSV scan, then bulk insert); ``write`` then
  writes that table with pyarrow. Above the gate the census and the counts
  are Spark aggregates and the coalesce can run distributed.
- **Search** = per-probe candidate-cell selection against the stats table
  (the branch-and-bound of ``recursive_add_points``, ``pktree.hpp:1048-1064``,
  and the range reject of ``recursive_find_range``, ``:1161-1163``, restated
  as point-to-box distance bounds), either as numpy on the driver or as one
  Spark stage loop that kNN and range share, with only the node test
  differing. Both yield (probe, cell) pairs; ``knn`` and ``range`` hand
  them to the exact-search tail every vector index shares
  (``index/search.py``: probe guard, cell join under the data-row guard,
  exact distance, top-k window or radius filter), ``box`` to a containment
  filter. Results are exactly equal to brute force — the PK-tree is an
  exact index; pruning is physical, not semantic.

Scale notes: the data shuffles once (by cell, at write time); the stats table
is ~n/occupancy rows and is the only thing the planner touches; candidate
selection is vectorized numpy over that table. Hot cells (skew) are exactly
the cells K-instantiation keeps subdividing — the fine level bounds occupancy;
AQE skew-join handles the residue.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from pyvectorsearch_spark.index.search import guard_probes, knn_rows, range_rows, scored
from pyvectorsearch_spark.plans.inspect import plan_bytes_below

CELL_SEP = "_"

STATS_SCHEMA = "cell string, level int, coords array<long>, count long"

# integer index parameters the stats sidecar carries on every row (``int``
# columns: Spark types ``F.lit`` of a small Python int as int)
_INT_PARAMS = ("dim", "rank", "rr", "ratio", "fine_level")


def _local_df(spark: SparkSession, cols: dict, schema) -> DataFrame:
    """Driver-held columns -> DataFrame via pandas + Arrow, for the tables
    the driver already has in hand: driver-mode search's (probe, cell)
    candidate pairs and the streamed index's sidecar deltas and snapshots
    (``index/incremental.py``). ``schema`` is a DDL string or a StructType.

    createDataFrame over a plain tuple list takes the row-at-a-time
    pickle/verify path (measured ~10 s for a 45k-row delta). This build
    ships with ``spark.sql.execution.arrow.pyspark.enabled=false``, so the
    pandas path ALSO row-converts unless the flag is on (a 154k-row frame
    cost 7.3 s without Arrow, 2.4 s with): it is set around the call and
    the caller's setting restored after."""
    import pandas as pd

    conf_key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:
        prev = None
    try:
        spark.conf.set(conf_key, "true")
        return spark.createDataFrame(pd.DataFrame(cols), schema)
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)


def _slices(level: int, dim: int, rr: int) -> list[int]:
    """Per-axis slice count at ``level`` (pktree.hpp:357-363)."""
    return [(level * rr + dim - c - 1) // dim for c in range(dim)]


def _slices_expr(level_col, c: int, dim: int, rr: int):
    """Column twin of ``_slices`` for one axis — whole-stage-codegen safe."""
    return F.floor(
        (level_col.cast("long") * rr + dim - c - 1) / float(dim)
    ).cast("double")


def _census_check(n: int, bad: int, dim: int) -> None:
    """The census verdict both build branches share: the same ValueErrors,
    with the same bad-row count."""
    if n == 0:
        raise ValueError("cannot build index over an empty DataFrame")
    if bad:
        raise ValueError(
            f"cannot build index: {bad} row(s) have an invalid "
            f"vector (NULL / NaN / Inf component or dim != {dim}); "
            "clean or filter the column first"
        )


def _census_arrow(vecs, dim: int | None) -> tuple[np.ndarray, int]:
    """build's census over an Arrow list column, the numpy twin of the Spark
    branch's aggregate: ``dim`` from the first non-NULL vector when not
    given, and a row is invalid when it is NULL, has a NULL / NaN / Inf
    component or a length other than ``dim``. Returns the ``(n, dim)``
    float64 points (float32 components widen exactly, as Spark's
    ``cast("double")`` does) and ``dim``."""
    import pyarrow.compute as pc

    vecs = vecs.combine_chunks()
    lens = pc.list_value_length(vecs).fill_null(-1).to_numpy()
    if dim is None:
        present = np.flatnonzero(lens >= 0)
        dim = int(lens[present[0]]) if len(present) else 0
    vals = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)  # NULL -> NaN
    bad = lens != dim
    bad[pc.list_parent_indices(vecs).to_numpy()[~np.isfinite(vals)]] = True
    _census_check(len(vecs), int(bad.sum()), dim)
    return vals.reshape(len(vecs), dim), dim


def _cell_coords(
    pts: np.ndarray,
    origin: Sequence[float],
    width: float,
    level: int,
    dim: int,
    rr: int,
    ratio: int,
    clamp: bool = True,
) -> np.ndarray:
    """The ``(n, dim)`` int64 cell coords of float64 points at ``level``:
    the numpy twin of ``GridIndex._cell_expr``, bit for bit. Each axis
    divides the same ``x - O_c`` by the same Python double ``w_c``, then
    floors and, with ``clamp``, clips to the box. Coords are exact while
    they fit an int64; Spark saturates beyond that."""
    s = _slices(level, dim, rr)
    out = np.empty(pts.shape, dtype=np.int64)
    for c in range(dim):
        w_c = width * (ratio ** -s[c])
        coord = np.floor((pts[:, c] - float(origin[c])) / float(w_c))
        if clamp:
            coord = np.clip(coord, 0, ratio ** s[c] - 1)
        out[:, c] = coord
    return out


def _cell_ids(level: int, coords: np.ndarray) -> list[str]:
    """``"level_c0_c1_..."`` ids of integer cell coords, as ``_cell_expr``
    spells them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = [pc.cast(pa.array(coords[:, c]), pa.string()) for c in range(coords.shape[1])]
    return pc.binary_join_element_wise(pa.scalar(str(level)), *parts, CELL_SEP).to_pylist()


def _kinstantiate_driver(
    counts: dict[str, int],
    *,
    fine_level: int,
    dim: int,
    rr: int,
    ratio: int,
    rank: int,
) -> tuple[dict[str, str], list[tuple[str, int, tuple[int, ...], int]]]:
    """The bottom-up K-instantiation cascade over a collected fine-cell
    count table (reference dissolve cascade, pktree.hpp:587-738): an
    under-full cell dissolves into its parent until the merged cell owns
    ≥ ``rank`` points (or level 0). Pure function of the counts — shared by
    the batch build and the streaming incremental rebalance, which is the
    point: rebalancing never needs the data, only this table.

    Returns (fine-cell → instantiated-cell assignment, stats rows)."""
    coords_of = {
        cid: tuple(int(x) for x in cid.split(CELL_SEP)[1:]) for cid in counts
    }
    assign: dict[str, str] = {}
    stats: list[tuple[str, int, tuple[int, ...], int]] = []
    pending: dict[tuple[int, ...], tuple[int, list[str]]] = {}
    for cid, cnt in counts.items():
        coords = coords_of[cid]
        pc, pm = pending.get(coords, (0, []))
        pending[coords] = (pc + cnt, pm + [cid])
    level = fine_level
    while pending and level > 0:
        nxt: dict[tuple[int, ...], tuple[int, list[str]]] = {}
        s_cur = _slices(level, dim, rr)
        s_par = _slices(level - 1, dim, rr)
        for coords, (cnt, members) in pending.items():
            if cnt >= rank:
                cid = CELL_SEP.join([str(level)] + [str(c) for c in coords])
                stats.append((cid, level, coords, cnt))
                for m in members:
                    assign[m] = cid
            else:
                parent = tuple(
                    c // (ratio ** (s_cur[i] - s_par[i]))
                    for i, c in enumerate(coords)
                )
                pc, pm = nxt.get(parent, (0, []))
                nxt[parent] = (pc + cnt, pm + members)
        pending = nxt
        level -= 1
    for coords, (cnt, members) in pending.items():
        cid = CELL_SEP.join(["0"] + [str(c) for c in coords])
        stats.append((cid, 0, coords, cnt))
        for m in members:
            assign[m] = cid
    return assign, stats


def _kinstantiate_distributed(
    fine_counts: DataFrame,
    *,
    fine_level: int,
    dim: int,
    rr: int,
    ratio: int,
    rank: int,
    with_state: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """The distributed twin of ``_kinstantiate_driver`` — the cascade as
    DataFrame aggregations over a (``_fine``, ``count``) table, for cell
    tables too large to collect (the 100 TB path). Per level, cells with
    ≥ ``rank`` accumulated points instantiate; under-full cells re-key to
    their parent and re-sum; a fine cell's final home is its deepest
    INSTANTIATED ancestor, recovered with one explode + join + max_by.
    Nothing is ever collected to the driver. Shared by the batch build and
    the streaming incremental rebalance.

    ``fine_counts`` should be checkpointed by the caller (it feeds both the
    cascade seed and the ancestor-explode join). Returns
    (mapping ``(_fine, cell)``, stats ``(cell, level, coords, count)``);
    with ``with_state=True`` additionally returns the full node-state table
    ``(cell, level, pending)`` — every node that owns rolled-up mass,
    instantiated or not — which seeds the streaming sidecar's incremental
    maintenance (``index/incremental.py``)."""
    s_fine = _slices(fine_level, dim, rr)
    cds = F.transform(
        F.slice(F.split("_fine", CELL_SEP), 2, dim), lambda x: x.cast("long")
    )
    pending = fine_counts.select(
        cds.alias("cds"), F.col("count").alias("cnt")
    ).groupBy("cds").agg(F.sum("cnt").alias("cnt"))

    def cell_id(level: int):
        return F.concat_ws(
            CELL_SEP,
            F.lit(str(level)),
            F.array_join(F.transform("cds", lambda x: x.cast("string")), CELL_SEP),
        )

    inst_parts = []
    state_parts = []
    for l in range(fine_level, 0, -1):
        # eager localCheckpoint, not persist: each round's table is tiny
        # (shrinking n/occupancy rows) but a LAZY chain keeps the full
        # 19-deep plan alive in every union branch — plan-size blowup,
        # not data, was the deep-index bottleneck (see the caller's
        # fine_counts checkpoint note)
        pending = pending.localCheckpoint(eager=True)
        if with_state:
            state_parts.append(
                pending.select(
                    cell_id(l).alias("cell"),
                    F.lit(l).cast("int").alias("level"),
                    F.col("cnt").cast("long").alias("pending"),
                )
            )
        inst_parts.append(
            pending.filter(F.col("cnt") >= rank).select(
                F.lit(l).alias("lvl"), cell_id(l).alias("anc"), "cds", "cnt"
            )
        )
        s_cur, s_par = _slices(l, dim, rr), _slices(l - 1, dim, rr)
        divs = F.array(
            *[F.lit(ratio ** (s_cur[c] - s_par[c])).cast("long") for c in range(dim)]
        )
        pending = (
            pending.filter(F.col("cnt") < rank)
            .select(
                F.zip_with("cds", divs, lambda x, d: x.cast("long") / d).alias(
                    "_d"
                ),
                "cnt",
            )
            .select(
                F.transform("_d", lambda x: F.floor(x).cast("long")).alias("cds"),
                "cnt",
            )
            .groupBy("cds")
            .agg(F.sum("cnt").alias("cnt"))
        )
    inst_parts.append(
        pending.select(F.lit(0).alias("lvl"), cell_id(0).alias("anc"), "cds", "cnt")
    )
    instantiated = inst_parts[0]
    for p in inst_parts[1:]:
        instantiated = instantiated.unionByName(p)

    def anc_id(level: int):
        s_l = _slices(level, dim, rr)
        parts = [F.lit(str(level))]
        for c in range(dim):
            shrink = ratio ** (s_fine[c] - s_l[c])
            parts.append(
                F.floor(
                    F.element_at(F.split("_fine", CELL_SEP), c + 2).cast("long")
                    / shrink
                ).cast("string")
            )
        return F.concat_ws(CELL_SEP, *parts)

    ancs = fine_counts.select(
        "_fine",
        "count",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(l).alias("lvl"), anc_id(l).alias("anc"))
                    for l in range(fine_level + 1)
                ]
            )
        ).alias("a"),
    ).select("_fine", "count", "a.lvl", "a.anc")

    chosen = (
        ancs.join(instantiated.select("lvl", "anc"), ["lvl", "anc"])
        .groupBy("_fine")
        .agg(F.max_by("anc", "lvl").alias("cell"))
    )

    # Cell stats stay a DataFrame — NOTHING is collected to the driver
    # (the point of this path; at 100 TB the stats table is millions of
    # rows). The driver-side search path collects lazily if ever asked;
    # the distributed search path joins against this directly.
    stats_df = instantiated.select(
        F.col("anc").alias("cell"),
        F.col("lvl").cast("int").alias("level"),
        F.transform("cds", lambda x: x.cast("long")).alias("coords"),
        F.col("cnt").cast("long").alias("count"),
    )
    if not with_state:
        return chosen, stats_df
    state_parts.append(
        pending.select(
            cell_id(0).alias("cell"),
            F.lit(0).cast("int").alias("level"),
            F.col("cnt").cast("long").alias("pending"),
        )
    )
    state_df = state_parts[0]
    for p in state_parts[1:]:
        state_df = state_df.unionByName(p)
    return chosen, stats_df, state_df


@dataclass
class GridIndex:
    """A built grid index: cell assignment per row + cell statistics.

    ``df`` carries the source rows plus a ``cell`` string column
    (``"level_c0_c1_..."``); ``stats_df`` is the cell table — a DataFrame
    ``(cell, level, coords, count)`` that is NEVER collected by the build
    (at 100 TB it is ~n/occupancy rows). The driver-side candidate path
    collects it lazily, on first use, only when small (``stats`` property);
    the distributed candidate path (``candidates="distributed"``) joins
    against it instead. ``origin``/``width`` define the root box (reference
    ``_O``/``_width``, pktree.hpp:307-309).
    """

    df: DataFrame
    stats_df: DataFrame
    origin: list[float]
    width: float
    dim: int
    rank: int
    rr: int
    ratio: int
    fine_level: int
    id_col: str
    vec_col: str
    _local_stats: list[tuple[str, int, tuple[int, ...], int]] | None = field(
        default=None, repr=False
    )
    _stats_count: int | None = field(default=None, repr=False)
    _geom: tuple | None = field(default=None, repr=False, compare=False)
    # (df, its rows + cell as an Arrow table) from build's driver branch;
    # write uses the table only while ``self.df`` is still that df
    _built: tuple | None = field(default=None, repr=False, compare=False)

    @property
    def stats(self) -> list[tuple[str, int, tuple[int, ...], int]]:
        """Driver-side cell list, collected lazily and cached. Only the
        small-probe-set search path and tests touch this; the build and the
        distributed search path never do."""
        if self._local_stats is None:
            self._local_stats = [
                (r["cell"], int(r["level"]), tuple(int(x) for x in r["coords"]), int(r["count"]))
                for r in self.stats_df.collect()
            ]
        return self._local_stats

    # ---------------- build ----------------

    @staticmethod
    def build(
        df: DataFrame,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        dim: int | None = None,
        rank: int = 3,
        rr: int = 2,
        ratio: int = 2,
        target_occupancy: int = 64,
        fine_level: int | None = None,
        coalesce_strategy: str = "auto",
        driver_cell_limit: int = 200_000,
    ) -> "GridIndex":
        """Build the index over ``df``'s ``vec_col`` (float or double arrays).

        Under the driver-read gate (``plan_bytes_below(df,
        incremental._DRIVER_READ_BYTES)``, float/double vectors, an
        Arrow-convertible schema) the build reads ``df`` once with
        ``toArrow`` and runs the census, root box, fine cells (``_cell_coords``,
        bit-identical to ``_cell_expr``) and K-instantiation in numpy: one
        Spark job. The index keeps that cell-sorted table for ``write``.
        Otherwise, and for ``coalesce_strategy="distributed"``, the census
        and the fine-cell counts are Spark aggregates. Either way the index's
        ``df`` is the same lazy plan: ``df`` plus the fine cell, joined to the
        broadcast fine-to-instantiated mapping."""
        from pyvectorsearch_spark.index.incremental import _arrow_rows

        if coalesce_strategy not in ("auto", "driver", "distributed"):
            raise ValueError(f"unknown coalesce_strategy {coalesce_strategy!r}")
        spark = df.sparkSession
        v_type = df.schema[vec_col].dataType if vec_col in df.columns else None
        table = None
        if (
            coalesce_strategy != "distributed"
            and isinstance(v_type, ArrayType)
            and isinstance(v_type.elementType, (FloatType, DoubleType))
        ):
            table = _arrow_rows(df)
        if table is not None:
            pts, dim = _census_arrow(table.column(vec_col), dim)
            lo, hi, n = pts.min(axis=0).tolist(), pts.max(axis=0).tolist(), len(pts)
        else:
            lo, hi, n, dim = GridIndex._census_spark(df, vec_col, dim)
        # Root box: the data's min corner and largest extent (batch
        # grow_root_to_cover_point)
        origin = [float(x) for x in lo]
        extent = max(max(float(hi[c]) - origin[c] for c in range(dim)), 1e-12)
        width = extent * (1 + 1e-9)  # open upper edge: max point stays inside

        if fine_level is None:
            # enough total slices that average occupancy ≈ target if uniform
            cells_needed = max(n / max(target_occupancy, 1), 1.0)
            total_slices = max(int(math.ceil(math.log(cells_needed, ratio))), 0)
            fine_level = int(math.ceil(total_slices * dim / rr)) if total_slices else 0

        cell_expr = GridIndex._cell_expr(vec_col, origin, width, fine_level, dim, rr, ratio)
        fine = df.withColumn("_fine", cell_expr)

        fine_stats = None
        if table is not None:
            coords, inverse, n_fine = np.unique(
                _cell_coords(pts, origin, width, fine_level, dim, rr, ratio),
                axis=0, return_inverse=True, return_counts=True,
            )
            fine_ids = _cell_ids(fine_level, coords)
            fine_stats = list(zip(fine_ids, n_fine.tolist()))
        elif coalesce_strategy == "auto":
            # One job decides the strategy AND (when the cell table is small
            # enough) already supplies the driver path's stats: collect at
            # most driver_cell_limit+1 grouped rows — the driver's footprint
            # stays bounded whatever the corpus size, and overflow routes to
            # the distributed cascade without a separate countDistinct job.
            fine_stats = [
                (r["_fine"], r["count"])
                for r in fine.groupBy("_fine").count().limit(driver_cell_limit + 1).collect()
            ]
        if coalesce_strategy == "auto":
            coalesce_strategy = (
                "distributed" if len(fine_stats) > driver_cell_limit else "driver"
            )
        if coalesce_strategy == "distributed":
            return GridIndex._build_distributed(
                fine, origin, width, dim, rank, rr, ratio, fine_level,
                id_col, vec_col,
            )

        # Stats at the fine level (small: ≤ n/1 rows, typically n/occupancy).
        if fine_stats is None:
            fine_stats = [(r["_fine"], r["count"]) for r in fine.groupBy("_fine").count().collect()]

        # Bottom-up K-instantiation (shared with the streaming incremental
        # rebalance — the cascade is a pure function of the count table).
        assign, stats = _kinstantiate_driver(
            dict(fine_stats), fine_level=fine_level, dim=dim, rr=rr, ratio=ratio,
            rank=rank,
        )

        mapping = spark.createDataFrame(
            [(k, v) for k, v in assign.items()], "_fine string, cell string"
        )
        indexed = fine.join(F.broadcast(mapping), "_fine").drop("_fine")
        stats_df = spark.createDataFrame(
            [(cid, lvl, list(coords), cnt) for cid, lvl, coords, cnt in stats],
            STATS_SCHEMA,
        )
        built = None
        if table is not None:
            import pyarrow as pa

            homes = pa.array([assign[f] for f in fine_ids], pa.string())
            built = (indexed, table.append_column("cell", homes.take(inverse.ravel())))
        return GridIndex(
            df=indexed,
            stats_df=stats_df,
            _local_stats=stats,
            _built=built,
            origin=origin,
            width=width,
            dim=dim,
            rank=rank,
            rr=rr,
            ratio=ratio,
            fine_level=fine_level,
            id_col=id_col,
            vec_col=vec_col,
        )

    @staticmethod
    def _census_spark(
        df: DataFrame, vec_col: str, dim: int | None
    ) -> tuple[list, list, int, int]:
        """build's Spark branch: ``dim`` from the first non-NULL vector when
        not given, then one aggregate for the per-axis min/max, the row count
        and the validity census (r7 contract: the index's internal invariant
        is the reference's, fixed dim and finite doubles, pktree.hpp:1223-1250;
        one NaN would poison the root box and floor() every cell id to null,
        so build fails loud instead). Returns (mins, maxs, n, dim)."""
        from pyvectorsearch_spark.functions.vector import vec_is_finite

        if dim is None:
            first = df.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
            dim = first[0] if first is not None else 0
        # try_element_at, not element_at: a short (dim-mismatched) vector
        # must surface as the census's ValueError below, not an ANSI
        # INVALID_ARRAY_INDEX from the same aggregate racing it
        comp = [F.try_element_at(F.col(vec_col), F.lit(c + 1)) for c in range(dim)]
        invalid = F.coalesce(
            F.col(vec_col).isNull()
            | (F.size(F.col(vec_col)) != F.lit(dim))
            | ~vec_is_finite(F.col(vec_col)),
            F.lit(True),
        )
        row = df.agg(
            *[F.min(x).alias(f"mn{c}") for c, x in enumerate(comp)],
            *[F.max(x).alias(f"mx{c}") for c, x in enumerate(comp)],
            F.count("*").alias("_n"),
            F.sum(invalid.cast("long")).alias("_bad"),
        ).first()
        _census_check(row["_n"], row["_bad"], dim)
        return (
            [row[f"mn{c}"] for c in range(dim)],
            [row[f"mx{c}"] for c in range(dim)],
            row["_n"],
            dim,
        )

    @staticmethod
    def _build_distributed(
        fine: DataFrame,
        origin: list[float],
        width: float,
        dim: int,
        rank: int,
        rr: int,
        ratio: int,
        fine_level: int,
        id_col: str,
        vec_col: str,
    ) -> "GridIndex":
        """Coalesce without the driver: the 100 TB path.

        The driver variant replays the reference's dissolve cascade over a
        collected cell list — impossible when the fine-cell table itself is
        billions of rows. This path runs the SAME cascade as DataFrame
        aggregations: per level, cells with ≥ rank accumulated points
        instantiate; under-full cells re-key to their parent and re-sum —
        ``fine_level`` iterations over a shrinking ~n/occupancy-row table,
        nothing per-cell ever collected. A fine cell's final home is then its
        deepest INSTANTIATED ancestor (the dissolve process assigns exactly
        there), recovered with one explode + join + max_by. Search results
        are identical to the driver path (exactness never depended on tree
        shape, SURVEY.md §7) and the occupancy invariant (≥ rank or root)
        holds by construction.
        """
        # eager checkpoint: fine_counts feeds BOTH the cascade seed and the
        # ancestor-explode join — and, critically, truncates lineage so the
        # per-level loop below starts from a shallow plan (r7: at
        # fine_level ≈ 19, a lazy 19-deep persist chain under a 20-part
        # union made Catalyst optimize O(levels²) nested subplans — the
        # build stalled minutes in planning/codegen before any data moved)
        fine_counts = fine.groupBy("_fine").count().localCheckpoint(eager=True)
        chosen, stats_df = _kinstantiate_distributed(
            fine_counts, fine_level=fine_level, dim=dim, rr=rr, ratio=ratio,
            rank=rank,
        )
        indexed = fine.join(chosen, "_fine").drop("_fine")
        return GridIndex(
            df=indexed,
            stats_df=stats_df,
            origin=origin,
            width=width,
            dim=dim,
            rank=rank,
            rr=rr,
            ratio=ratio,
            fine_level=fine_level,
            id_col=id_col,
            vec_col=vec_col,
        )
    @staticmethod
    def _cell_expr(
        vec_col: str,
        origin: Sequence[float],
        width: float,
        level: int,
        dim: int,
        rr: int,
        ratio: int,
        clamp: bool = True,
    ):
        """Closed-form cell id at ``level``: per-axis
        floor((p_c − O_c) / w_c) with w_c = width·ratio^(−slices_c)
        (pktree.hpp:373-379,538-580) — a pure Catalyst expression.

        ``clamp=True`` (the batch-build path, where the data DEFINED the
        box) folds numeric edge cases onto the boundary cells. Streamed
        ingest against pinned geometry must pass ``clamp=False``: a point
        OUTSIDE the root box then gets honest negative/oversized coords —
        the integer lattice simply extends beyond the box, ``_cell_box``
        is closed-form in the coords, and the pruning bounds stay lossless.
        This replaces the reference's incremental root surgery
        (``grow_root_to_cover_point``, pktree.hpp:841-929): no rebuild, no
        pointer cascade — an out-of-box arrival is just a new cell id.
        (Clamping such a point instead would file it under a boundary
        cell whose box doesn't contain it, and pruned search could then
        discard the cell holding the true nearest neighbor.)"""
        s = _slices(level, dim, rr)
        parts = [F.lit(str(level))]
        for c in range(dim):
            w_c = width * (ratio ** -s[c])
            coord = F.floor(
                (F.element_at(F.col(vec_col), c + 1).cast("double") - float(origin[c]))
                / float(w_c)
            )
            if clamp:
                # open-upper-edge numeric guard (in-box data only)
                coord = F.greatest(
                    F.least(coord, F.lit((ratio ** s[c]) - 1)), F.lit(0)
                )
            parts.append(coord.cast("string"))
        return F.concat_ws(CELL_SEP, *parts)

    # ---------------- geometry ----------------

    def _cell_box(self, level: int, coords: tuple[int, ...]) -> tuple[np.ndarray, np.ndarray]:
        s = _slices(level, self.dim, self.rr)
        w = np.array([self.width * (self.ratio ** -s[c]) for c in range(self.dim)])
        lo = np.asarray(self.origin) + np.asarray(coords) * w
        return lo, lo + w

    def _geometry(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """``(cells, lo, hi, counts)`` over the driver-side stats, built once
        per index: ``lo``/``hi`` are the ``(cells, dim)`` boxes of
        ``_cell_box`` from the same per-level ``width * ratio ** -s`` doubles,
        so the bounds below are bit-identical to the per-cell formula."""
        if self._geom is None:
            st = self.stats
            w_of = {
                lv: [self.width * (self.ratio ** -s) for s in _slices(lv, self.dim, self.rr)]
                for lv in {s[1] for s in st}
            }
            w = np.array([w_of[s[1]] for s in st], dtype=np.float64).reshape(-1, self.dim)
            coords = np.array([s[2] for s in st], dtype=np.int64).reshape(-1, self.dim)
            lo = np.asarray(self.origin, dtype=np.float64) + coords * w
            cells = np.array([s[0] for s in st], dtype=object)
            self._geom = (cells, lo, lo + w, np.array([s[3] for s in st], dtype=np.int64))
        return self._geom

    def _bounds(self, q: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """min/max squared point-to-box distance per cell (the pruning bounds
        of pktree.hpp:1048-1061 and :1129-1162): one broadcast expression
        over the cached cell boxes."""
        q = np.asarray(q, dtype=np.float64)
        _, lo, hi, cnts = self._geometry()
        d_min = np.clip(lo - q, 0, None) + np.clip(q - hi, 0, None)
        d_max = np.maximum((q - lo) ** 2, (hi - q) ** 2)
        return (d_min**2).sum(axis=1), d_max.sum(axis=1), cnts

    # ---------------- candidate selection (distributed) ----------------

    def _with_box_cols(self, stats_df: DataFrame) -> DataFrame:
        """stats rows + (_blo, _bhi) per-dim box-bound arrays: the cell
        geometry (per-level width w·ratio^-floor(…), box lo/hi) evaluated
        once per CELL on the broadcast side, never in the |Q|·|cells| pair
        rows, whose bound math is then two array reads + add/mul per dim
        (measured r11)."""
        los, his = [], []
        for c in range(self.dim):
            s_c = F.floor(
                (F.col("level").cast("long") * self.rr + self.dim - c - 1)
                / float(self.dim)
            ).cast("double")
            w_c = F.lit(float(self.width)) * F.pow(F.lit(float(self.ratio)), -s_c)
            lo = (
                F.lit(float(self.origin[c]))
                + F.element_at("coords", c + 1).cast("double") * w_c
            )
            los.append(lo)
            his.append(lo + w_c)
        return stats_df.withColumn("_blo", F.array(*los)).withColumn(
            "_bhi", F.array(*his)
        )

    def _box_bounds_from_cols(self, qvec: Column) -> tuple[Column, Column]:
        """Min/max squared point-to-box distance between a query-vector
        column and a ``_with_box_cols`` row (the pruning bounds of
        pktree.hpp:1048-1061 and :1129-1162) as pure Catalyst expressions —
        the distributed twin of ``_bounds``; no UDF, no driver."""
        import functools

        min_terms: list[Column] = []
        max_terms: list[Column] = []
        for c in range(self.dim):
            lo = F.element_at("_blo", c + 1)
            hi = F.element_at("_bhi", c + 1)
            qc = F.element_at(qvec, c + 1).cast("double")
            dmin = F.greatest(lo - qc, F.lit(0.0)) + F.greatest(qc - hi, F.lit(0.0))
            min_terms.append(dmin * dmin)
            max_terms.append(
                F.greatest((qc - lo) * (qc - lo), (hi - qc) * (hi - qc))
            )
        add = lambda a, b: a + b  # noqa: E731
        return (
            functools.reduce(add, min_terms),
            functools.reduce(add, max_terms),
        )

    def _scored_pairs(self, qs: DataFrame, stats_df: DataFrame | None = None) -> DataFrame:
        """(query × cell) with distance bounds: queries joined against the
        broadcast stats table. The stats side is ~n/occupancy rows — the
        only table small enough to pair with every query; the data itself
        is never cross-joined.

        The queries are hash-partitioned on ``_qid`` FIRST: the |Q|·|cells|
        bound expressions then evaluate across every core instead of on the
        query table's few source partitions, and the downstream per-query
        window reuses the same partitioning (no second exchange of the big
        pair table). Measured 4x on a 40k-probe batch."""
        spread = qs.repartition(
            qs.sparkSession.sparkContext.defaultParallelism, "_qid"
        )
        stats = stats_df if stats_df is not None else self.stats_df
        mn, mx = self._box_bounds_from_cols(F.col("_qvec"))
        return (
            spread.crossJoin(F.broadcast(self._with_box_cols(stats)))
            .withColumn("_min_d2", mn)
            .withColumn("_max_d2", mx)
            .drop("_blo", "_bhi")
        )

    # Above this many cells the |Q|x|cells| scored cross-join becomes the
    # dominant quadratic (both |Q| and |cells| grow with the data), so the
    # distributed searches descend through a COARSE ancestor level first —
    # the reference's recursive tree descent (pktree.hpp:978-1072 prunes
    # subtrees before visiting children) restated as two plan stages.
    COARSE_THRESHOLD = 2048
    # max survivor fan-out per descent stage (see _descent_ladder)
    DESCENT_BRANCH = 16
    COARSE_TARGET = 320
    # max fan-in of the implicit FINAL (fine) stage on deep grids; past the
    # driver-stats bound the ladder appends tail stages until the last
    # grouped level is within this factor of the fine count (r9 — the r8
    # capacity run measured the 1.05M-cell search paying 6.6× wall for 4×
    # cells because the schedule left a ~13× tail expansion)
    TAIL_FAN = 4
    TAIL_GATE_CELLS = 200_000
    # Most cells whose stats the driver holds as a list: "auto" search
    # picks the driver path up to here, and loaders prepopulate
    # ``_local_stats`` only within it.
    DRIVER_STATS_MAX_CELLS = 200_000
    # Plan-size bounds (``plan_bytes_below``: fail-closed, so probe tables
    # of unknown size take the sort-merge joins) for the two probe-bounded
    # broadcasts of the distributed search. b0, the per-query kth-distance
    # cap in _prune_pairs, is ≤ 16 B per probe: 16 GiB of probe rows at the
    # narrowest (id, 2-d vec) layout ≈ 4×10⁸ probes ≈ 6.4 GB of b0, at the
    # 8 GB broadcast-relation cap. The probe table ITSELF (id + vector per
    # row) is re-attached to the pruned pairs by keep⋈qs, which otherwise
    # plans a sort-merge that re-sorts the survivor table just to put the
    # query vector back (r11; AQE's runtime SMJ→BHJ rewrite fires after the
    # sorts are planned). 1 GiB of ESTIMATED probe bytes is ≲100 MB real
    # (estimates inflate across the probe-expansion joins).
    B0_BROADCAST_MAX_PROBE_BYTES = 16 << 30
    QS_BROADCAST_MAX_BYTES = 1 << 30

    def _qs_side(self, qs: DataFrame) -> DataFrame:
        """The probe table as a join side: broadcast when provably small."""
        small = plan_bytes_below(qs, self.QS_BROADCAST_MAX_BYTES)
        return F.broadcast(qs) if small else qs

    def _n_cells(self) -> int:
        """Stats-row count, cached; never collects the stats themselves."""
        if self._local_stats is not None:
            return len(self._local_stats)
        if self._stats_count is None:
            self._stats_count = self.stats_df.count()
        return self._stats_count

    def _level_hist(self) -> dict[int, int]:
        """(level -> cell count) histogram of the stats table; one tiny
        cells-sized aggregate for distributed stats, cached."""
        if getattr(self, "_lvl_hist", None) is None:
            if self._local_stats is not None:
                hist: dict[int, int] = {}
                for _, lvl, _, _ in self._local_stats:
                    hist[lvl] = hist.get(lvl, 0) + 1
            else:
                hist = {
                    int(r["level"]): int(r["n"])
                    for r in self.stats_df.groupBy("level")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            self._lvl_hist = hist
        return self._lvl_hist

    def _coarse_level(self) -> int:
        """Ancestor level whose GROUPED cell count lands near COARSE_TARGET.

        K-instantiation leaves a level PYRAMID, not a flat fine layer
        (measured at sf1.0: 5362 cells spread over levels 0-11, bulk at
        7-8), and grouping maps each cell to its ancestor at
        ``min(level, lc)`` — cells already at or above lc stay themselves.
        So the lc that actually contracts is found from the level
        histogram: the deepest lc whose estimate (shallow cells kept +
        deeper cells divided by ratio^(rr·gap)) fits the target. A
        max-occupied-level heuristic picked lc=9 there and contracted
        NOTHING (5323 of 5362 cells sat at levels ≤ 9)."""
        hist = self._level_hist()
        if not hist:
            return 0
        top = max(hist)
        for lc in range(top - 1, 0, -1):
            if self._grouped_est(lc) <= self.COARSE_TARGET:
                return lc
        return 0

    def _grouped_est(self, lc: int) -> int:
        """Estimated cell count after grouping the stats pyramid to
        ancestor level ``lc`` (shallow cells stay themselves; deeper cells
        contract by ratio^(rr·gap)) — the sizing input for the descent."""
        hist = self._level_hist()
        shrink = self.ratio ** self.rr
        return sum(
            n if lvl <= lc else max(1, n // (shrink ** (lvl - lc)))
            for lvl, n in hist.items()
        )

    def _descent_ladder(self) -> list[int]:
        """Strictly-increasing coarse levels whose grouped-cell estimates
        grow ~DESCENT_BRANCH× per stage, COARSE_TARGET upward. The round-5
        two-stage descent expanded surviving ancestors straight to their
        FINE members — a fan-out of n_cells/COARSE_TARGET per ancestor,
        which is where the quadratic reappeared at sf10 (4M probes ×
        ~39 members × qvec bytes ground one stage for 30+ minutes). Each
        ladder stage now expands survivors by at most ~DESCENT_BRANCH, so
        every stage's pair table stays O(|Q| · survivors · branch) whatever
        the index depth; stage count grows only logarithmically in the
        cell count. The final (fine) stage is implicit —
        ``_distributed_pairs`` descends the ladder stages then finishes on
        the true stats table."""
        hist = self._level_hist()
        if not hist:
            return [0]
        n = sum(hist.values())
        top = max(hist)
        ladder: list[int] = []
        target = self.COARSE_TARGET
        lc_prev = 0
        # a stage earns its window sort only while it still CONTRACTS the
        # next stage ~BRANCH-fold: once the schedule target is within 2× of
        # the fine count, expanding straight to fine is the same work the
        # extra stage would cost (measured: a 5.1k mid stage under a 5.4k
        # fine table added +44 % at sf1.0 for nothing)
        while target * 2 < n:
            lc = lc_prev
            for cand in range(top - 1, lc_prev, -1):
                if self._grouped_est(cand) <= target:
                    lc = cand
                    break
            if lc <= lc_prev and ladder:
                # no deeper level fits this target: the pyramid is shallow
                # enough that the previous stage already covers it
                target *= self.DESCENT_BRANCH
                continue
            if lc >= top or self._grouped_est(lc) >= n:
                break
            ladder.append(lc)
            lc_prev = lc
            target *= self.DESCENT_BRANCH
        # Tail gate (r9, VERDICT r8 #3): the absolute-target schedule bounds
        # every MIDDLE stage, but on deep pyramids it can leave the implicit
        # final fine expansion at up to ~32× the last grouped level
        # (measured ~13× at 1.05M cells → 607 s for 1000 probes, 6.6× wall
        # for 4× cells). Past the driver-stats bound, append the deepest
        # levels that still contract ≥2× vs fine until the tail fan-in is
        # ≤ TAIL_FAN — the reference's recursion is node-bounded at EVERY
        # step (pktree.hpp:1048-1064), including the last. Below the gate
        # the r7/r8 measured floors (11.75× at sf10) already carry the
        # regime and an extra window would tax the headline queries.
        if ladder and n > self.TAIL_GATE_CELLS:
            while True:
                est_last = self._grouped_est(ladder[-1])
                if n <= est_last * self.TAIL_FAN:
                    break
                cand_lv = None
                for cand in range(top - 1, ladder[-1], -1):
                    e = self._grouped_est(cand)
                    if e * 2 < n and e > est_last:
                        cand_lv = cand
                        break
                if cand_lv is None:
                    break
                ladder.append(cand_lv)
        return ladder or [self._coarse_level()]

    def _coarse_coords(self, coarse_level: int) -> tuple[Column, list[Column]]:
        """(effective level, per-dim ancestor coords) of a stats row at
        ``coarse_level``; cells at or above it map to themselves."""
        lvl = F.col("level").cast("int")
        eff = F.least(lvl, F.lit(int(coarse_level)))
        return eff, [
            F.floor(
                F.element_at("coords", c + 1).cast("double")
                / F.pow(
                    F.lit(float(self.ratio)),
                    _slices_expr(lvl, c, self.dim, self.rr)
                    - _slices_expr(eff, c, self.dim, self.rr),
                )
            ).cast("long")
            for c in range(self.dim)
        ]

    def _coarse_stats(self, coarse_level: int) -> DataFrame:
        """Aggregate the stats table to ancestor cells at ``coarse_level``:
        (cell, level, coords, count) rows whose box CONTAINS every member
        cell's box (cells already at or above the coarse level group as
        themselves), so every point-to-box bound computed on a coarse row
        is a valid bound for all its members — the losslessness invariant
        of the two-stage descent. One cells-sized shuffle, done once per
        search plan."""
        eff, coords = self._coarse_coords(coarse_level)
        return (
            self.stats_df.select(
                eff.alias("level"),
                F.array(*coords).alias("coords"),
                F.col("count"),
            )
            .groupBy("level", "coords")
            .agg(F.sum("count").cast("long").alias("count"))
            .withColumn(
                "cell",
                F.concat_ws(
                    CELL_SEP,
                    F.col("level").cast("string"),
                    *[
                        F.element_at("coords", c + 1).cast("string")
                        for c in range(self.dim)
                    ],
                ),
            )
        )

    def _coarse_key_expr(self, coarse_level: int):
        """Coarse ancestor key of a fine stats row — the join key that
        expands surviving coarse cells back to their member cells."""
        eff, coords = self._coarse_coords(coarse_level)
        return F.concat_ws(
            CELL_SEP, eff.cast("string"), *[c.cast("string") for c in coords]
        )

    def _prune_pairs(
        self, pairs: DataFrame, k: int, broadcast_b0: bool
    ) -> DataFrame:
        """The exact two-phase candidate prune over a scored (query, cell)
        pair table with (_qid, cell, count, _min_d2, _max_d2): returns the
        surviving (_qid, cell) pairs. Lossless for ANY pair table whose
        per-query rows partition ≥ the true top-k points with valid
        point-to-box bounds (fine cells, or coarse ancestors)."""
        # Coarse pre-bound BEFORE the window: any single cell holding ≥ k
        # points caps the kth distance by its max-distance, and the min of
        # those caps per query comes from a map-side-combined aggregate —
        # |Q| rows cross the wire instead of the full |Q|·|cells| pair table
        # through the window sort (543 cells × 40k probes = 21.7M rows at
        # sf0.1; the prune leaves ~the near ring per query). Lossless: the
        # cap ≥ the true kth distance, every cell that could hold a top-k
        # point has _min_d2 ≤ cap, and the capping cell itself survives
        # (its _min_d2 ≤ its _max_d2 = cap), so the exact prefix logic below
        # still reaches ≥ k cumulative points. Queries with no ≥k cell
        # (k > occupancy) keep every cell via the null coalesce.
        b0 = (
            pairs.filter(F.col("count") >= k)
            .groupBy("_qid")
            .agg(F.min("_max_d2").alias("_b0"))
        )
        # b0 is ≤ 16 bytes per query (one (long, double) row for queries
        # that have a ≥k cell) — broadcast it instead of letting the planner
        # sort-merge: the pair table is already hash-partitioned on _qid for
        # the windows below, and an SMJ here inserts a full extra sort of
        # the |Q|·|cells| pair table just to attach one scalar (measured
        # 2.37 s → 2.05 s median on the 120k-probe sf0.1 bench row; AQE's
        # runtime SMJ→BHJ rewrite fires too late to skip that sort). The
        # hint is probe-bounded, not data-bounded: 10⁶ probes ≈ 16 MB.
        # Callers pass broadcast_b0 from the probe table's plan-size gate
        # (B0_BROADCAST_MAX_PROBE_BYTES, against the 8 GB broadcast cap).
        if broadcast_b0:
            b0 = F.broadcast(b0)
        pairs = pairs.join(b0, "_qid", "left").filter(
            F.col("_min_d2") <= F.coalesce(F.col("_b0"), F.lit(float("inf")))
        )
        # Tie order matters: a query's whole ancestor chain has _min_d2 = 0
        # (nested boxes), and coarse ancestors have domain-sized _max_d2 —
        # letting one into the prefix inflates the bound to cover everything.
        # Ascending _max_d2 puts the TIGHTEST covering cells first.
        w_pref = (
            Window.partitionBy("_qid")
            .orderBy(
                F.col("_min_d2").asc(), F.col("_max_d2").asc(), F.col("cell").asc()
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # The kth-neighbor bound is a SECOND window over the same (_qid)
        # partitioning — one shuffle + one sort total, no self-join (a
        # pref⋈bound join would evaluate the scored cross-join twice).
        w_all = Window.partitionBy("_qid")
        pref = pairs.withColumn("_cum", F.sum("count").over(w_pref))
        in_prefix = F.col("_cum") - F.col("count") < k
        bounded = pref.withColumn(
            "_bound", F.max(F.when(in_prefix, F.col("_max_d2"))).over(w_all)
        )
        return bounded.filter(F.col("_min_d2") <= F.col("_bound")).select(
            "_qid", "cell"
        )

    def _distributed_pairs(
        self, qs: DataFrame, keep_stage, checkpoint: bool = False
    ) -> DataFrame:
        """Candidates ``(_qid, cell, _qvec)``, ``_qid`` being ``struct(probe
        id)``, for a query TABLE, selected as a Spark plan, not a driver
        loop, so 10⁶ probes scale the same as 10.

        The reference's recursive descent as plan stages: kNN
        (``recursive_add_points``, pktree.hpp:978-1072) and range
        (``recursive_find_range``, :1106-1174) walk the tree alike and differ
        only in the node test, ``keep_stage``: scored pairs ``(_qid, cell,
        count, _min_d2, _max_d2)`` in, surviving ``(_qid, cell)`` out. The
        stages are the ``_descent_ladder`` levels, each aggregated once
        (and, with ``checkpoint``, checkpointed: kNN's ``_prune_pairs`` reads
        each stage's pair table twice, range reads it once), then the true
        stats table; an index of at most
        COARSE_THRESHOLD cells has no ladder and scores every (query, fine
        cell) pair at once. Above it the |Q|·|cells| pair table is quadratic
        when probes and cells both scale with the data (measured 71× runtime
        for 10× data at sf1.0 before the descent), so each later stage scores
        only the members of the previous stage's survivors. Lossless at every
        stage: a coarse box contains its members' boxes, so its bounds hold
        for all of them."""
        ladder = self._descent_ladder() if self._n_cells() > self.COARSE_THRESHOLD else []
        coarse = [self._coarse_stats(lv) for lv in ladder]
        if checkpoint:
            coarse = [c.localCheckpoint(eager=False) for c in coarse]
        stages = coarse + [self.stats_df]
        # Key the descent on struct(_qid): never NULL, and equal for equal
        # ids, NULL included, so every _qid equi-join keeps NULL-id probes
        # (a bare NULL key joins nothing). Every join, window and shuffle,
        # down to the search's own top-k window, stays on this one _qid
        # partitioning; a null-safe join would re-key on (coalesce(_qid),
        # isnull(_qid)) and re-shuffle whenever it plans as a sort-merge.
        qs = qs.withColumn("_qid", F.struct("_qid"))
        probes = self._qs_side(qs)
        # The (query × cell) table is the big intermediate (|Q|·|cells|);
        # keep its rows NARROW — scores only, no vectors/coords — so the
        # window shuffle+sort moves a fraction of the bytes. The query
        # vector is re-attached to the ~|Q|·(cells/query) candidates after
        # pruning (measured 3-4x faster than carrying it through the sort),
        # from the broadcast probe table when the plan-size gate allows it:
        # the default SMJ pays an exchange + two sorts of the survivor table
        # to attach one vector per probe (r11). Probes sharing an id share
        # their kept cells; the de-duplication (on the _qid partitioning the
        # stage left) gives each such probe every cell once.
        cols = ["_qid", "cell", "count", "_min_d2", "_max_d2"]
        keep = keep_stage(self._scored_pairs(qs, stages[0]).select(*cols))
        for prev_lv, stats_lv in zip(ladder, stages[1:]):
            mn, mx = self._box_bounds_from_cols(F.col("_qvec"))
            member = self._with_box_cols(stats_lv).withColumn(
                "_ckey", self._coarse_key_expr(prev_lv)
            )
            pairs = (
                keep.dropDuplicates(["_qid", "cell"])
                .join(probes, "_qid")
                .withColumnRenamed("cell", "_ckey")
                .join(F.broadcast(member), "_ckey")
                .select("_qid", "cell", "count", mn.alias("_min_d2"), mx.alias("_max_d2"))
            )
            keep = keep_stage(pairs)
        return keep.dropDuplicates(["_qid", "cell"]).join(probes, "_qid")

    # ---------------- candidate selection (driver) ----------------

    def _knn_keep(self, q: np.ndarray, k: int) -> np.ndarray:
        """Indices of the cells one probe keeps for kNN: the numpy twin of
        _prune_pairs, lossless for the same reasons. (1) Any cell holding
        ≥ k points caps the kth distance by its max-distance (b0); (2) a
        prefix by (min, max, cell), tightest covering cells first, up to
        ≥ k cumulative points bounds it again; (3) keep cells with min ≤
        both bounds. (Ordering by min alone let a domain-sized ancestor
        lead the prefix: 487 of 543 cells survived for the sf0.1 probes.)"""
        cells = self._geometry()[0]
        mins, maxs, cnts = self._bounds(q)
        heavy = cnts >= k
        b0 = float(maxs[heavy].min()) if heavy.any() else np.inf
        live = np.where(mins <= b0)[0]
        order = live[np.lexsort((cells[live], maxs[live], mins[live]))]
        pos = int(np.searchsorted(np.cumsum(cnts[order]), k))  # first cum ≥ k
        bound = float(maxs[order[: pos + 1]].max()) if pos < len(order) else np.inf
        return live[mins[live] <= bound]

    def _driver_pairs(self, qs: DataFrame, keep) -> DataFrame:
        """Candidates ``(_qid, cell, *probe columns)`` chosen on the driver:
        one row per (probe, cell) pair that ``keep(probe_row)`` keeps over
        the cached cell boxes, carrying the collected probe row's own
        columns (``_qvec`` for ``knn``/``range``, ``_qlo``/``_qhi`` for
        ``box``) in the probe table's own types, and ``_qid`` as
        ``struct(probe id)``, the key ``_distributed_pairs`` returns. Shipped
        once through Arrow and broadcast (bounded by collected probes × kept
        cells, all already on the driver)."""
        from pyspark.sql.types import StringType, StructField, StructType

        cells = self._geometry()[0]
        rest = [c for c in qs.columns if c != "_qid"]
        cols: dict[str, list] = {"_qid": [], "cell": [], **{c: [] for c in rest}}
        for row in qs.collect():
            kept = cells[keep(row)].tolist()
            cols["cell"] += kept
            for c in ("_qid", *rest):
                cols[c] += [row[c]] * len(kept)
        f = qs.schema
        schema = StructType(
            [f["_qid"], StructField("cell", StringType()), *[f[c] for c in rest]]
        )
        pairs = _local_df(qs.sparkSession, cols, schema)
        return F.broadcast(pairs.withColumn("_qid", F.struct("_qid")))

    def _scored(self, cand: DataFrame, payload: Iterable[str]) -> DataFrame:
        """The tail both candidate modes share: candidates ``(_qid, cell,
        _qvec)`` joined to the data on ``cell``, under the data-row guard
        (``index/search.py``). ``build``'s census refuses invalid rows, but
        streamed rows and a ``GridIndex`` constructed over ingested rows
        never pass it."""
        return scored(self.df, cand, "cell", id_col=self.id_col, vec_col=self.vec_col,
                      dim=self.dim, payload=payload)

    # ---------------- queries ----------------

    def _candidates_mode(self, candidates: str) -> str:
        """Validate ``candidates`` and resolve "auto": driver only when the
        cell table can sit on the driver (cached count, no collect)."""
        if candidates not in ("auto", "driver", "distributed"):
            raise ValueError(f"unknown candidates mode {candidates!r}")
        if candidates != "auto":
            return candidates
        small = (
            self._local_stats is not None
            or self._n_cells() <= self.DRIVER_STATS_MAX_CELLS
        )
        return "driver" if small else "distributed"

    def knn(
        self,
        queries: DataFrame,
        k: int,
        *,
        query_id: str = "query_id",
        query_vec: str = "qvec",
        payload: Iterable[str] = (),
        candidates: str = "auto",
        on_invalid: str = "error",
    ) -> DataFrame:
        """Exact kNN with cell pruning (search_knn analog, pktree.hpp:948-973).

        Two-phase candidate selection per query over the cell stats: (1) take
        cells by ascending min-distance until they hold ≥ k points → the max
        of their max-distances upper-bounds the kth neighbor; (2) keep every
        cell whose min-distance ≤ that bound. One pruned scan + window top-k.

        ``candidates``: "driver" collects the probes, runs selection as one
        numpy pass per probe over the cached cell boxes (~0.2 ms per probe
        over 1,354 cells on a 4-vCPU VM, so hundreds to a few thousand
        probes are fine) and ships the kept (probe, cell) pairs to Spark as
        one broadcast table (``_driver_pairs``). On the 8,000-point
        grid_serve_ingest index, 256 probes at k=8 keep 37 of 1,354 cells
        each (9,500 pairs) where the union of their cells holds 1,339 (7,875
        rows), and the search takes ~0.64 s on local[4]. "distributed" runs
        selection as a Spark plan (``_distributed_pairs``, with
        ``_prune_pairs`` as its node test; right for a query TABLE — 10⁴+
        probes — or an index whose stats table is too big to collect);
        "auto" picks driver only when the stats table is driver-sized. Both
        modes yield (probe, cell) pairs and finish in the shared exact tail
        (``index/search.py``).
        """
        qs = guard_probes(queries, query_id, query_vec, self.dim, on_invalid)
        if self._candidates_mode(candidates) == "distributed":
            b0_ok = plan_bytes_below(qs, self.B0_BROADCAST_MAX_PROBE_BYTES)
            cand = self._distributed_pairs(
                qs, lambda p: self._prune_pairs(p, k, broadcast_b0=b0_ok), checkpoint=True
            )
        else:
            cand = self._driver_pairs(qs, lambda p: self._knn_keep(p._qvec, k))
        return knn_rows(self._scored(cand, payload), k, payload)

    def range(
        self,
        queries: DataFrame,
        radius: float,
        *,
        query_id: str = "query_id",
        query_vec: str = "qvec",
        payload: Iterable[str] = (),
        candidates: str = "auto",
        on_invalid: str = "error",
    ) -> DataFrame:
        """Exact ε-range with the reference's 3-way cell classification
        (pktree.hpp:1161-1171): reject min>r², accept-whole max≤r², else scan
        and filter. (The accepted-whole cells still evaluate the distance
        expression so the output carries ``dist`` — correctness-neutral.)

        ``candidates`` as in :meth:`knn`; both modes keep a probe's cells
        with min-distance ≤ r², the distributed one as the node test of the
        same ``_distributed_pairs`` stage loop ``knn`` uses."""
        r2 = float(radius) ** 2
        qs = guard_probes(queries, query_id, query_vec, self.dim, on_invalid)
        if self._candidates_mode(candidates) == "distributed":
            cand = self._distributed_pairs(
                qs,
                lambda p: p.filter(F.col("_min_d2") <= F.lit(r2)).select("_qid", "cell"),
            )
        else:
            cand = self._driver_pairs(qs, lambda p: self._bounds(p._qvec)[0] <= r2)
        return range_rows(self._scored(cand, payload), r2, payload)

    def range_count(
        self,
        queries: DataFrame,
        radius: float,
        *,
        query_id: str = "query_id",
        query_vec: str = "qvec",
    ) -> DataFrame:
        """COUNT-only ε-range with aggregate pushdown into the index: cells
        wholly inside the ball (max-corner distance ≤ r²) are answered from
        the stats table's per-cell COUNTS — zero rows touched — and only
        BOUNDARY cells (min ≤ r² < max) scan and filter. This is the
        aggregate twin of the reference's whole-subtree emit
        (pktree.hpp:1080-1089): where the row query emits a covered
        subtree's points verbatim, the count query emits just its size.

        At 100 TB the difference is the workload: a dense ball answered
        mostly from the (n/occupancy)-row stats table costs a broadcast
        join, not a scan. Returns (query_id, n_in_range) for probes with
        ≥ 1 match — exact, same contract as :meth:`range`. Probes pass the
        same guard as :meth:`range` with ``on_invalid="error"``, and the
        boundary scan is its ``_scored`` tail with the data-side guard."""
        r2 = float(radius) ** 2
        qs = guard_probes(queries, query_id, query_vec, self.dim)
        # struct key (see _distributed_pairs): a NULL probe id's inside and
        # scanned counts must meet in the full outer join below
        sp = self._scored_pairs(qs.withColumn("_qid", F.struct("_qid")))
        inside = (
            sp.filter(F.col("_max_d2") <= F.lit(r2))
            .groupBy("_qid")
            .agg(F.sum("count").cast("bigint").alias("_n_inside"))
        )
        boundary = sp.filter(
            (F.col("_min_d2") <= F.lit(r2)) & (F.col("_max_d2") > F.lit(r2))
        ).select("_qid", "cell", "_qvec")
        scanned = (
            self._scored(boundary, ())
            .filter(F.col("dist") <= F.lit(r2))
            .groupBy("_qid")
            .agg(F.count("*").cast("bigint").alias("_n_scan"))
        )
        merged = inside.join(scanned, "_qid", "full_outer").select(
            F.col("_qid._qid").alias(query_id),
            (
                F.coalesce("_n_inside", F.lit(0)) + F.coalesce("_n_scan", F.lit(0))
            ).cast("bigint").alias("n_in_range"),
        )
        return merged.filter(F.col("n_in_range") > 0)

    def box(
        self,
        queries: DataFrame,
        *,
        query_id: str = "query_id",
        lo_col: str = "qlo",
        hi_col: str = "qhi",
        payload: Iterable[str] = (),
    ) -> DataFrame:
        """Axis-aligned box search: every point with qlo_c <= x_c <= qhi_c
        on all axes — the rectangular companion the reference's ball-only
        API lacks (its geometry supports it directly: cells are boxes, so
        classification is per-axis interval overlap instead of the
        point-to-box distance of pktree.hpp:1129-1162).

        Driver-mode candidate selection (same regime as :meth:`range`'s
        driver path): each probe's overlapping cells from the cached cell
        boxes, as (probe, cell) pairs (``_driver_pairs``) joined to the data
        on ``cell``, then the containment filter; cells wholly inside a
        query box could skip the filter (the accept-whole
        shortcut) — kept filtered for a single plan shape, correctness-
        neutral. A distributed twin would swap the numpy classification for
        per-axis interval predicates on the broadcast stats join, exactly
        as ``_box_bounds_from_cols`` does for balls.

        Returns (query_id, neighbor_id, *payload)."""
        _, lo, hi, _ = self._geometry()
        qs = queries.select(
            F.col(query_id).alias("_qid"),
            F.col(lo_col).alias("_qlo"),
            F.col(hi_col).alias("_qhi"),
        )
        cand = self._driver_pairs(
            qs,
            lambda p: (lo <= np.asarray(list(p._qhi), dtype=np.float64)).all(1)
            & (np.asarray(list(p._qlo), dtype=np.float64) <= hi).all(1),
        )
        inside = F.forall(
            F.zip_with(F.col(self.vec_col), F.col("_qlo"), lambda x, l: x >= l),
            lambda b: b,
        ) & F.forall(
            F.zip_with(F.col(self.vec_col), F.col("_qhi"), lambda x, h: x <= h),
            lambda b: b,
        )
        cols = [
            F.col("_qid._qid").alias(query_id),
            F.col(self.id_col).alias("neighbor_id"),
            *[F.col(c) for c in payload],
        ]
        return self.df.join(cand, "cell").filter(inside).select(*cols)

    # ---------------- persistence ----------------

    def write(
        self,
        path: str,
        mode: str = "overwrite",
        *,
        partition_rows_threshold: int = 100_000,
        target_file_rows: int = 4_000_000,
    ) -> None:
        """Persist as parquet + a stats/descriptor table — the durable index
        the reference never had (its tree dies with the process,
        pktree.hpp:1211-1214).

        Layout adapts to cell size: big cells (≥ ``partition_rows_threshold``
        rows on average — the 100 TB regime) get directory partitioning so
        ``cell`` filters become partition pruning; small cells get a handful
        of range-partitioned files SORTED by cell, so the same filters prune
        via parquet row-group min/max stats without drowning the filesystem
        in per-cell directories (a 543-cell index over 2000 rows measured
        4.3 s just to LIST when dir-partitioned).

        An index from ``build``'s driver branch, written unchanged to a local
        path in the sorted layout, is written with pyarrow from the table the
        build read: no Spark job, and ``spark.read.parquet`` gives the same
        schemas as for Spark's own write. ``n`` / ``n_cells`` come from the
        driver-held stats when the index has them."""
        if self._local_stats is not None:
            n = sum(s[3] for s in self._local_stats)
            n_cells = max(len(self._local_stats), 1)
        else:
            agg = self.stats_df.agg(
                F.sum("count").alias("n"), F.count("*").alias("n_cells")
            ).first()
            n = int(agg["n"] or 0)
            n_cells = max(int(agg["n_cells"]), 1)
        files = max(1, math.ceil(n / max(target_file_rows, 1)))
        if n and n / n_cells >= partition_rows_threshold:
            self.df.repartition("cell").write.mode(mode).partitionBy(
                "cell"
            ).parquet(f"{path}/data")
        elif self._write_local(path, mode, files):
            return
        else:
            (
                self.df.repartitionByRange(files, "cell")
                .sortWithinPartitions("cell")
                .write.mode(mode)
                .parquet(f"{path}/data")
            )
        # Stats written straight from the DataFrame — never collected. The
        # index parameters (a dozen scalars) ride on every row as literals;
        # the table stays one file per ~hundred MB of cells.
        meta = self.stats_df.withColumns(
            {
                "origin": F.array(*[F.lit(float(x)) for x in self.origin]),
                "width": F.lit(float(self.width)),
                **{k: F.lit(int(getattr(self, k))) for k in _INT_PARAMS},
                "id_col": F.lit(self.id_col),
                "vec_col": F.lit(self.vec_col),
            }
        )
        files = max(1, math.ceil(n_cells / 2_000_000))
        meta.coalesce(files).write.mode(mode).parquet(f"{path}/stats")

    def _write_local(self, path: str, mode: str, files: int) -> bool:
        """write's driver branch: the build's rows sorted by cell into
        ``files`` data files and the stats sidecar, both with pyarrow.
        Declines (False, write goes through Spark) unless the build's table
        backs ``self.df``, the stats are driver-held, the path is local and
        ``mode`` is one pyarrow honours as Spark does; "error" on an
        existing path is left to Spark, which raises."""
        import pyarrow as pa

        from pyvectorsearch_spark.index.cache import local_write_dir, write_table_local

        if self._built is None or self._built[0] is not self.df or not self._local_stats:
            return False
        local = local_write_dir(self.df.sparkSession, path)
        if local is None:
            return False
        dirs = (f"{local}/data", f"{local}/stats")
        mode = (mode or "errorifexists").lower()
        if mode in ("error", "errorifexists", "default") and not any(
            os.path.exists(d) for d in dirs
        ):
            mode = "overwrite"
        if mode not in ("overwrite", "append", "ignore"):
            return False
        write_table_local(self._built[1].sort_by("cell"), dirs[0], mode, files)
        cell, level, coords, count = zip(*self._local_stats)
        k = len(cell)
        stats = pa.table(
            {
                "cell": pa.array(cell, pa.string()),
                "level": pa.array(level, pa.int32()),
                "coords": pa.array([list(c) for c in coords], pa.list_(pa.int64())),
                "count": pa.array(count, pa.int64()),
                "origin": pa.array([[float(x) for x in self.origin]] * k, pa.list_(pa.float64())),
                "width": pa.array([float(self.width)] * k, pa.float64()),
                **{p: pa.array([int(getattr(self, p))] * k, pa.int32()) for p in _INT_PARAMS},
                "id_col": pa.array([self.id_col] * k, pa.string()),
                "vec_col": pa.array([self.vec_col] * k, pa.string()),
            }
        )
        write_table_local(stats, dirs[1], mode)
        return True

    @staticmethod
    def load(spark: SparkSession, path: str) -> "GridIndex":
        data = spark.read.parquet(f"{path}/data")
        stats_src = spark.read.parquet(f"{path}/stats")
        # params ride on every row; grab one row WITHOUT a Spark job when
        # the artifact is local (read_sidecar_head) — the old .first() paid
        # a full job per query invocation (r10 optimization round)
        from pyvectorsearch_spark.index.cache import (
            read_sidecar_head,
            read_small_sidecar,
            sidecar_num_rows,
        )

        head = read_sidecar_head(
            f"{path}/stats",
            columns=[
                "origin", "width", "dim", "rank", "rr", "ratio",
                "fine_level", "id_col", "vec_col",
            ],
        ) or stats_src.first()
        # Pre-populate the driver-side cell list when the stats table is
        # driver-sized (the _candidates_mode bound, checked against FOOTER
        # metadata only): the driver candidate path otherwise pays a count
        # job + a collect job per QUERY invocation for a table we already
        # have locally. Bigger artifacts keep the lazy distributed stats
        # exactly as before (r10 optimization round).
        local_stats = None
        n_stats = sidecar_num_rows(f"{path}/stats")
        if n_stats is not None and n_stats <= GridIndex.DRIVER_STATS_MAX_CELLS:
            cell_rows = read_small_sidecar(
                f"{path}/stats",
                columns=["cell", "level", "coords", "count"],
            )
            if cell_rows is not None:
                local_stats = [
                    (
                        r["cell"],
                        int(r["level"]),
                        tuple(int(x) for x in r["coords"]),
                        int(r["count"]),
                    )
                    for r in cell_rows
                ]
        stats_df = stats_src.select(
            "cell",
            F.col("level").cast("int").alias("level"),
            F.transform("coords", lambda x: x.cast("long")).alias("coords"),
            F.col("count").cast("long").alias("count"),
        )
        return GridIndex(
            df=data,
            stats_df=stats_df,
            origin=list(head["origin"]),
            width=head["width"],
            dim=head["dim"],
            rank=head["rank"],
            rr=head["rr"],
            ratio=head["ratio"],
            fine_level=head["fine_level"],
            id_col=head["id_col"],
            vec_col=head["vec_col"],
            _local_stats=local_stats,
            _stats_count=n_stats,
        )
