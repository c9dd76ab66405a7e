"""Round-10 OPTIMIZATION-round pins: every change here must keep results
bit-identical while removing measured overhead (OPTIMIZATION_r10.md).

- driver union-find CC path (census-bounded collect, opt-in)
- _prune_pairs b0 broadcast (SMJ sort removed from the pair table)
- the CC probe's raw edge checkpoint freed on the distributed branch
- hamming_pairs_gemm data-sized source slices (no repartition exchange)
- synthetic_media bounded parallelize slices
- streaming drains' input-scaled state partitions
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.operators.graph import connected_components

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


def _rand_graph(spark, n=200, extra=80, seed=3):
    import random

    rng = random.Random(seed)
    pairs = [(i, i + 1) for i in range(0, n - 1, 2)]  # 2-cliques
    pairs += [
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(extra)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    return spark.createDataFrame(pairs, "d1 long, d2 long")


class TestDriverCC:
    def test_driver_path_matches_distributed(self, spark):
        g = _rand_graph(spark)
        stats_drv: dict = {}
        drv = {
            (r.node, r.cluster)
            for r in connected_components(
                g, driver_max_edges=1 << 20, _stats=stats_drv
            ).collect()
        }
        dist = {
            (r.node, r.cluster)
            for r in connected_components(g).collect()
        }
        assert stats_drv["mode"] == "driver"
        assert drv == dist

    def test_bound_respected(self, spark):
        """Graphs bigger than the bound keep the distributed path."""
        g = _rand_graph(spark)
        stats: dict = {}
        out = connected_components(g, driver_max_edges=4, _stats=stats)
        assert stats["mode"] in ("label", "twostar")
        assert out.count() > 0

    def test_over_bound_frees_raw_checkpoint(self, spark, monkeypatch):
        """Past the bound the raw edge checkpoint is consumed once the
        distinct edge table exists: it must not stay a persistent RDD."""
        df_cls = type(spark.range(1))  # the session's concrete DataFrame
        made = []
        orig = df_cls.localCheckpoint

        def spy(self, *a, **kw):
            out = orig(self, *a, **kw)
            made.append(out._jdf.queryExecution().analyzed().rdd().id())
            return out

        monkeypatch.setattr(df_cls, "localCheckpoint", spy)
        stats: dict = {}
        connected_components(
            _rand_graph(spark), driver_max_edges=4, _stats=stats
        ).collect()
        raw_id, edges_id = made[:2]
        live = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        assert stats["mode"] in ("label", "twostar")
        assert raw_id not in live
        assert edges_id in live

    def test_default_disabled(self, spark):
        """No driver collect unless the caller opts in (pins the r7 modes)."""
        stats: dict = {}
        connected_components(_rand_graph(spark), _stats=stats).collect()
        assert stats["mode"] in ("label", "twostar")

    def test_dup_clusters_query_unchanged(self, spark, duck):
        """dedup_clusters (which now opts in) stays oracle-identical."""
        from pyvectorsearch_spark.queries.dedup import (
            ORACLES,
            q_dedup_clusters,
        )

        got = q_dedup_clusters(spark, SF_T2).toPandas()
        duck.execute(
            "CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM '{SF_T2}/documents.parquet'"
        )
        exp = duck.sql(ORACLES["dedup_clusters"]).df()
        cols = sorted(got.columns)
        assert sorted(map(tuple, got[cols].itertuples(index=False))) == sorted(
            map(tuple, exp[cols].itertuples(index=False))
        )


class TestPrunePairsBroadcast:
    def test_b0_join_is_broadcast_not_smj(self, spark):
        """The kth-distance cap joins back by BROADCAST: no SortMergeJoin
        may touch the |Q|x|cells| pair table on the bound attach."""
        from pyvectorsearch_spark.index.grid import GridIndex
        from pyvectorsearch_spark.sources.tables import load_table

        emb = (
            load_table(spark, SF_T2, "embeddings")
            .withColumn("p2", F.slice("embedding", 1, 2))
            .select("vec_id", "p2")
        )
        idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id",
                              target_occupancy=16)
        probes = emb.limit(50).select(
            F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
        )
        plan = idx.knn(probes, 3, candidates="distributed")._jdf.queryExecution().toString()
        import re

        # the bound-attach LeftOuter on _qid must be a BroadcastHashJoin;
        # the candidates⋈data cell join may legitimately stay sort-merge
        smj_leftouter = re.search(r"SortMergeJoin .*LeftOuter", plan)
        assert smj_leftouter is None, plan[:3000]
        assert re.search(r"BroadcastHashJoin .*LeftOuter", plan), plan[:3000]


class TestDriverPruneTightness:
    def test_driver_bound_matches_distributed_prune(self, spark):
        """The numpy candidate loop must apply the same b0 cap + tie order
        as _prune_pairs: for clustered data the kept-cell fraction stays
        well under the old order-by-min-alone behavior (which kept ~90%),
        and results are exact vs brute force."""
        from pyvectorsearch_spark.index.grid import GridIndex
        from pyvectorsearch_spark.operators.knn import knn_join
        from pyvectorsearch_spark.sources.tables import load_table

        emb = (
            load_table(spark, SF_T2, "embeddings")
            .withColumn("p2", F.slice("embedding", 1, 2))
            .select("vec_id", "p2")
        )
        idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id",
                              target_occupancy=16)
        probes = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("p2").alias("qvec")
        )
        got = sorted(
            (r.query_id, r.neighbor_id, round(r.dist, 9), r.rank)
            for r in idx.knn(probes, 5, candidates="driver").collect()
        )
        want = sorted(
            (r.query_id, r.neighbor_id, round(r.dist, 9), r.rank)
            for r in knn_join(emb, probes, 5, data_vec="p2").collect()
        )
        assert got == want

    def test_grid_load_populates_local_stats_when_small(self, spark):
        """Loaded driver-sized artifacts carry the local cell list — no
        count/collect job at query time."""
        import tempfile, uuid, os

        from pyvectorsearch_spark.index.grid import GridIndex
        from pyvectorsearch_spark.sources.tables import load_table

        emb = (
            load_table(spark, SF_SMOKE, "embeddings")
            .withColumn("p2", F.slice("embedding", 1, 2))
            .select("vec_id", "p2")
        )
        idx = GridIndex.build(emb, vec_col="p2", id_col="vec_id",
                              target_occupancy=16)
        path = os.path.join(tempfile.gettempdir(),
                            f"pvs_r10opt_{uuid.uuid4().hex[:8]}")
        idx.write(path)
        loaded = GridIndex.load(spark, path)
        assert loaded._local_stats is not None
        assert loaded._stats_count == len(loaded._local_stats)
        # the local list must agree with the distributed stats table
        dist = sorted(
            (r["cell"], int(r["level"]), tuple(int(x) for x in r["coords"]),
             int(r["count"]))
            for r in loaded.stats_df.collect()
        )
        assert sorted(loaded._local_stats) == dist


class TestGemmSourceSlices:
    def test_no_repartition_exchange(self, spark):
        """The collected fingerprint table is parallelized straight into
        data-sized slices — no round-robin Exchange before the GEMM."""
        from pyvectorsearch_spark.operators.dedup import simhash_pairs
        from pyvectorsearch_spark.sources.tables import load_table

        docs = load_table(spark, SF_T2, "documents")
        out = simhash_pairs(docs, max_hamming=8)
        plan = out._jdf.queryExecution().toString()
        assert "REPARTITION_BY_NUM" not in plan, plan[:2000]

    def test_partitions_scale_with_rows(self, spark):
        from pyvectorsearch_spark.operators.dedup import hamming_pairs_gemm

        hashes = spark.range(100).select(
            F.col("id").alias("doc_id"), (F.col("id") * 7).alias("simhash")
        )
        out = hamming_pairs_gemm(
            hashes, id_col="doc_id", hash_col="simhash", max_hamming=60
        )
        assert out.rdd.getNumPartitions() == 1  # 100 rows -> 1 slice


class TestSyntheticMediaSlices:
    def test_rows_identical_and_bounded_partitions(self, spark):
        from pyvectorsearch_spark.operators.multimodal import synthetic_media

        m = synthetic_media(spark, 96)
        assert m.rdd.getNumPartitions() <= 4
        rows = m.orderBy("media_id").collect()
        assert len(rows) == 96 and rows[0]["media_id"] == 0


class TestSkylineOracleRewrite:
    def test_window_oracle_equals_antijoin_oracle(self, duck):
        """The O(n log n) skyline oracle must stay row-identical to the r9
        quadratic NOT-EXISTS form on tie-heavy random tables."""
        import numpy as np

        from pyvectorsearch_spark.queries.analytic_extra import ORACLE_SKYLINE

        old_sql = """
        WITH s AS (
          SELECT l_extendedprice AS price, l_quantity::BIGINT AS qty
          FROM lineitem a
          WHERE NOT EXISTS (
            SELECT 1 FROM lineitem b
            WHERE b.l_extendedprice <= a.l_extendedprice
              AND b.l_quantity >= a.l_quantity
              AND (b.l_extendedprice < a.l_extendedprice
                   OR b.l_quantity > a.l_quantity)
          )
        )
        SELECT qty, count(*)::BIGINT AS n_rows, round(min(price), 2) AS min_price
        FROM s GROUP BY qty ORDER BY qty
        """
        import duckdb

        for seed in (0, 1, 2):
            rng = np.random.default_rng(seed)
            n = 500
            con = duckdb.connect()
            rows = ", ".join(
                f"({rng.integers(0, 30) * 1.5}, {rng.integers(1, 6)})"
                for _ in range(n)
            )
            con.execute(
                "CREATE TABLE lineitem(l_extendedprice DOUBLE, "
                f"l_quantity BIGINT); INSERT INTO lineitem VALUES {rows}"
            )
            a = con.sql(old_sql).df()
            b = con.sql(ORACLE_SKYLINE).df()
            assert a.equals(b), (seed, a, b)
            con.close()

    def test_skyline_query_matches_new_oracle(self, spark, duck):
        from pyvectorsearch_spark.queries.analytic_extra import (
            ORACLES,
            q_skyline_lineitem,
        )

        duck.execute(
            "CREATE OR REPLACE VIEW lineitem AS "
            f"SELECT * FROM '{SF_T2}/lineitem.parquet'"
        )
        got = q_skyline_lineitem(spark, SF_T2).toPandas()
        exp = duck.sql(ORACLES["skyline_lineitem"]).df()
        cols = sorted(got.columns)
        assert sorted(map(tuple, got[cols].itertuples(index=False))) == sorted(
            map(tuple, exp[cols].itertuples(index=False))
        )


class TestScaledStateParts:
    def test_floor_and_cap(self, spark):
        from pyvectorsearch_spark.queries.streaming import _scaled_state_parts

        parts = _scaled_state_parts(spark, SF_T2)
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert 8 <= parts <= max(cap, 8)

    def test_conf_restored_after_drain(self, spark):
        from pyvectorsearch_spark.queries.streaming import (
            q_events_hourly_stream,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        q_events_hourly_stream(spark, SF_T2).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
