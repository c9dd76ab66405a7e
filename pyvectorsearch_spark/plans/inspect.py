"""Physical-plan inspection: make plan quality testable.

The reference hard-codes its optimizations (SURVEY.md §4); here Catalyst owns
them, so the engine's perf contract is "the plan has the right shape":
filters reach the parquet scan, projections prune columns, small sides
broadcast, shuffles are few, and hot expressions sit inside whole-stage
codegen. These helpers parse ``explain('formatted')`` so tests can assert
each property instead of hoping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (Spark only prints it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (column pruning check)."""
    cols: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", explain_str(df)):
        body = m.group(1)
        names = {f.split(":")[0].strip() for f in re.split(r",(?![^<]*>)", body) if f.strip()}
        cols.append(names)
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excluding broadcast + reused ones) — the
    scale-limiting operations of the plan."""
    s = explain_str(df)
    # formatted mode: "(4) Exchange" (shuffle), vs BroadcastExchange /
    # ReusedExchange which don't move data twice
    return len(re.findall(r"\(\d+\) Exchange\b", s))


def partition_filters(df: DataFrame) -> list[str]:
    """All PartitionFilters entries across the plan's file scans — non-empty
    means the scan prunes hive-style partition directories instead of
    reading the whole dataset (the 100 TB read-path contract for
    partitioned sinks)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", explain_str(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def plan_bytes_below(df: DataFrame, bound: int) -> bool:
    """The one plan-size gate behind every size dispatch: True only when
    Catalyst's estimate for ``df`` (the optimized plan's size statistic;
    no job runs) is known and lies in ``(0, bound)``. Fail-closed: an
    absent estimate, the ``Long.MaxValue``-class sentinel that RDD- and
    driver-built tables report, or any error returns False, so the caller
    takes its scale-safe branch."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(size if isinstance(size, int) else size.toString())
    except Exception:
        return False
    return 0 < size < min(bound, 1 << 60)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def whole_stage_codegen_ids(df: DataFrame) -> list[int]:
    """IDs of WholeStageCodegen spans; wider/fewer spans = more fused work."""
    return [int(x) for x in re.findall(r"WholeStageCodegen \((\d+)\)", explain_str(df))]
