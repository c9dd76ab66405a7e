"""Size dispatch: the one plan-size gate (``plans.inspect.plan_bytes_below``)
and every site that dispatches on it.

The gate is fail-closed: only a known Catalyst estimate inside
``(0, bound)`` picks the small-input branch. Each site's two branches must
return identical rows, so each case forces both (bound 0 and 1 << 62) and
compares them; the plans must differ, or the case forced nothing.
"""
from __future__ import annotations

import re
import types

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.operators import dedup as dedup_ops
from pyvectorsearch_spark.plans.inspect import explain_str, plan_bytes_below
from pyvectorsearch_spark.queries import relational
from pyvectorsearch_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE, SF_T2


@pytest.mark.parametrize(
    "case, bound, want",
    [
        ("parquet", 1 << 30, True),  # known and small
        ("parquet", 1, False),  # known, over the bound
        ("driver_built", 1 << 62, False),  # createDataFrame: sentinel
        ("raises", 1 << 62, False),  # no plan to read
    ],
    ids=["known_small", "known_over_bound", "sentinel", "raises"],
)
def test_plan_bytes_below(spark, case, bound, want):
    df = {
        "parquet": lambda: spark.read.parquet(f"{SF_T2}/embeddings.parquet"),
        "driver_built": lambda: spark.createDataFrame(
            [(1, [0.0, 1.0])], "_qid long, _qvec array<double>"
        ),
        "raises": lambda: types.SimpleNamespace(_jdf=None),
    }[case]()
    assert plan_bytes_below(df, bound) is want


def _grid_knn(spark, sf, built):
    """Distributed grid kNN with parquet-derived probes (known estimate);
    ``built`` keeps one index per scale factor across the cases."""
    if sf not in built:
        emb = (
            load_table(spark, sf, "embeddings")
            .withColumn("p2", F.slice("embedding", 1, 2))
            .select("vec_id", "p2")
        )
        idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id", target_occupancy=16)
        probes = emb.filter(F.col("vec_id") < 64).select(
            F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
        )
        built[sf] = (idx, probes)
    idx, probes = built[sf]
    return idx.knn(probes, 3, candidates="distributed")


def _emb_dups(spark, sf, bound, _):
    emb = load_table(spark, sf, "embeddings")
    out = dedup_ops.embedding_dup_pairs_auto(
        emb,
        min_cosine=0.4,
        gemm_max_bytes=bound,
        model_fn=lambda: dedup_ops.angular_bucket_model(emb, n_lists=16, seed=42),
    )
    return out.select("d1", "d2", F.round("cosine", 6).alias("cosine"))


# site -> (owner, bound attribute or None, df builder(spark, sf, bound,
# built)); a None attribute means the bound is the builder's own argument
SITES = {
    "grid_b0": (
        GridIndex,
        "B0_BROADCAST_MAX_PROBE_BYTES",
        lambda s, sf, _, built: _grid_knn(s, sf, built),
    ),
    "grid_qs": (
        GridIndex,
        "QS_BROADCAST_MAX_BYTES",
        lambda s, sf, _, built: _grid_knn(s, sf, built),
    ),
    "price_quantiles": (
        relational,
        "QUANTILE_AGG_MAX_BYTES",
        lambda s, sf, *_: relational.price_quantiles(s, sf),
    ),
    "embedding_dup_pairs_auto": (dedup_ops, None, _emb_dups),
}


@pytest.fixture(scope="module")
def built():
    return {}


def _plan(df) -> list[str]:
    """The physical operators of the formatted plan, in order."""
    return re.findall(r"^\(\d+\) (.+)$", explain_str(df), re.M)


@pytest.mark.parametrize("sf", [SF_SMOKE, SF_T2], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("site", sorted(SITES))
def test_site_branches_identical(spark, monkeypatch, built, site, sf):
    owner, attr, build = SITES[site]
    got = {}
    # without size-based auto-broadcast, only a dispatch's own hint can
    # make a join a broadcast, so each branch shows in the plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for bound in (0, 1 << 62):
            if attr is not None:
                monkeypatch.setattr(owner, attr, bound)
            df = build(spark, sf, bound, built)
            got[bound] = (sorted(map(tuple, df.collect())), _plan(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    (small_rows, small_plan), (big_rows, big_plan) = got[1 << 62], got[0]
    assert small_plan != big_plan, "the bound did not move the dispatch"
    assert small_rows == big_rows and small_rows
