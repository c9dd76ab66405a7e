"""Round-11 OPTIMIZATION-round pins: every change keeps results
bit-identical while removing measured overhead (OPTIMIZATION_r11.md).

- ndarray array literals (lit_double_array / lit_long_array) — value- and
  type-identical to the per-element F.array(*[F.lit(v)...]) form
- price_quantiles distributed exact quantile (range-partition + global
  rank) — value-identical to the F.percentile object aggregate
- plans/local.py's footer schema (nullability relax, multi-schema and ns
  fallbacks), write_table round trip, local-path rule and single owner
  (ADVICE r10)
- _scaled_state_parts session-cap guard (ADVICE r10)
- the distributed grid kNN's probe-bounded joins stay broadcasts
"""
from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


class TestLitArrays:
    def test_double_array_identical(self, spark):
        from pyvectorsearch_spark.functions.lits import lit_double_array

        vals = [0.1, -2.5, 3.75e-9, 1.0 / 3.0, 6.02e23]
        df = spark.range(1).select(
            lit_double_array(vals).alias("a"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
        )
        assert dict(df.dtypes) == {"a": "array<double>", "b": "array<double>"}
        row = df.first()
        assert list(row["a"]) == list(row["b"]) == vals

    def test_long_array_identical(self, spark):
        from pyvectorsearch_spark.functions.lits import lit_long_array

        vals = [0, -7, 2**40, 123456789]
        df = spark.range(1).select(
            lit_long_array(vals).alias("a"),
            F.array(*[F.lit(int(v)).cast("bigint") for v in vals]).alias("b"),
        )
        assert dict(df.dtypes) == {"a": "array<bigint>", "b": "array<bigint>"}
        row = df.first()
        assert list(row["a"]) == list(row["b"]) == vals

    def test_zip_with_fold_identical(self, spark):
        """The exact shape every call site uses: literal array inside a
        zip_with product fold must produce bit-identical doubles."""
        from pyvectorsearch_spark.functions.lits import lit_double_array

        rng = random.Random(11)
        w = [rng.gauss(0, 1) for _ in range(64)]
        x = [rng.uniform(-1, 1) for _ in range(64)]
        df = spark.createDataFrame([(x,)], "x array<double>")

        def dot(warr):
            return F.aggregate(
                F.zip_with("x", warr, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )

        row = df.select(
            dot(lit_double_array(w)).alias("new"),
            dot(F.array(*[F.lit(v) for v in w])).alias("old"),
        ).first()
        assert row["new"] == row["old"]


class TestExactGroupQuantiles:
    PROBS = [0.25, 0.5, 0.75]

    def _old(self, df):
        pct = F.percentile("v", F.lit(self.PROBS))
        return {
            tuple(r)
            for r in df.groupBy("g")
            .agg(*[F.element_at(pct, i + 1).alias(f"q{i}") for i in range(3)])
            .collect()
        }

    def _new(self, spark, df):
        from pyvectorsearch_spark.queries.relational import _exact_group_quantiles

        q = _exact_group_quantiles(df, "g", "v", self.PROBS)
        return {
            tuple(r)
            for r in q.select(
                "g", *[F.col(f"_q{i}").alias(f"q{i}") for i in range(3)]
            ).collect()
        }

    @pytest.mark.parametrize("seed", [1, 2, 5])
    def test_random_ties_raw_identical(self, spark, seed):
        rng = random.Random(seed)
        rows = [
            (rng.choice("ABC"), float(rng.choice([1.0, 2.5, 2.5, 7.25, 9.0, 11.125])))
            for _ in range(997)
        ]
        rows.append(("D", 5.0))  # single-row group: pos lands on one rank
        df = spark.createDataFrame(rows, "g string, v double")
        assert self._new(spark, df) == self._old(df)

    def test_continuous_values_raw_identical(self, spark):
        rng = random.Random(42)
        rows = [(rng.choice("AB"), rng.uniform(0, 1e5)) for _ in range(2000)]
        df = spark.createDataFrame(rows, "g string, v double")
        assert self._new(spark, df) == self._old(df)

    def test_nulls_ignored_like_percentile(self, spark):
        df = spark.createDataFrame(
            [("A", 1.0), ("A", None), ("A", 2.0)], "g string, v double"
        )
        assert self._new(spark, df) == self._old(df)

    def test_null_group_kept_like_percentile(self, spark):
        """``groupBy`` keeps a NULL key as one group; so must the rank pass
        (its bucket joins and target prefilter are null-safe)."""
        rng = random.Random(7)
        rows = [
            (rng.choice(["A", None]), float(rng.choice([1.0, 2.5, 9.0])))
            for _ in range(301)
        ]
        rows += [(None, None), ("B", 4.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        old = self._old(df)
        assert None in {r[0] for r in old}
        assert self._new(spark, df) == old

    def test_price_quantiles_big_branch_null_flag(self, spark, monkeypatch):
        """The distributed branch of ``price_quantiles`` keeps a NULL
        return flag's row, values and all, like the percentile branch."""
        from pyvectorsearch_spark.queries import relational

        rows = [(f, float(p)) for f, p in zip(["A", None, "R", None] * 25, range(100))]
        li = spark.createDataFrame(rows, "l_returnflag string, l_extendedprice double")
        monkeypatch.setattr(relational, "_t", lambda *_: li)
        monkeypatch.setattr(relational, "QUANTILE_AGG_MAX_BYTES", 0)
        big = relational.price_quantiles(spark, SF_T2)
        assert "percentile(" not in big._jdf.queryExecution().executedPlan().toString()
        old = self._old_form(spark)
        assert (None, 50, 25.5, 50.0, 74.5, 50.0) in old  # 1, 3, …, 99
        assert {tuple(r) for r in big.collect()} == old

    def _old_form(self, spark):
        from pyvectorsearch_spark.queries.relational import _t

        li = _t(spark, SF_T2, "lineitem")
        pct = F.percentile("l_extendedprice", F.lit(self.PROBS))
        return {
            tuple(r)
            for r in li.groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.round(F.element_at(pct, 1), 6).alias("p25"),
                F.round(F.element_at(pct, 2), 6).alias("p50"),
                F.round(F.element_at(pct, 3), 6).alias("p75"),
                F.round(F.avg("l_extendedprice"), 6).alias("mean_price"),
            )
            .collect()
        }

    def test_price_quantiles_small_branch_is_old_form(self, spark):
        """Small inputs dispatch to the single-pass percentile aggregate."""
        from pyvectorsearch_spark.queries.relational import price_quantiles

        df = price_quantiles(spark, SF_T2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "percentile(" in plan
        assert {tuple(r) for r in df.collect()} == self._old_form(spark)

    def test_price_quantiles_big_branch_identical_and_percentile_free(
        self, spark, monkeypatch
    ):
        """The over-bound branch: value-identical rows, and the plan holds
        no object-hash percentile aggregate (the guide-§5 fix)."""
        from pyvectorsearch_spark.queries import relational

        monkeypatch.setattr(relational, "QUANTILE_AGG_MAX_BYTES", 0)
        df = relational.price_quantiles(spark, SF_T2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "percentile(" not in plan
        assert {tuple(r) for r in df.collect()} == self._old_form(spark)


def _required(name, t):
    import pyarrow as pa

    return pa.field(name, t, nullable=False)


def _schema_matrix():
    """name -> (arrow schema with a required field at that place, one row)."""
    import pyarrow as pa

    x = pa.struct([_required("x", pa.int64())])
    return {
        "top_level": (pa.schema([_required("a", pa.int64()), pa.field("b", pa.float64())]),
                      {"a": [1], "b": [1.0]}),
        "struct": (pa.schema([pa.field("s", x)]), {"s": [{"x": 1}]}),
        "list": (pa.schema([pa.field("l", pa.list_(_required("item", pa.int64())))]),
                 {"l": [[1, 2]]}),
        "large_list": (pa.schema([pa.field("l", pa.large_list(_required("item", pa.int64())))]),
                       {"l": [[1]]}),
        "fixed_size_list": (
            pa.schema([pa.field("l", pa.list_(_required("item", pa.float32()), 2))]),
            {"l": [[1.0, 2.0]]}),
        "map": (pa.schema([pa.field("m", pa.map_(pa.string(), _required("value", pa.int64())))]),
                {"m": [[("k", 1)]]}),
        "map_of_struct": (pa.schema([pa.field("m", pa.map_(pa.string(), pa.field("value", x)))]),
                          {"m": [[("k", {"x": 1})]]}),
        "three_deep": (
            pa.schema([_required("d", pa.struct([_required("l", pa.list_(_required("item", x)))]))]),
            {"d": [{"l": [{"x": 1}]}]}),
    }


class TestLocalSchemaAdvice:
    """``plans/local.py``'s I/O contract: footer schemas equal Spark's read,
    every field nullable both ways, one local-path rule, one owner."""

    def test_required_fields_read_nullable(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyvectorsearch_spark.plans.local import _footer_schema

        schema, row = _schema_matrix()["top_level"]
        p = os.path.join(tmp_path, "req.parquet")
        pq.write_table(pa.table(row, schema=schema), p)
        loc = _footer_schema([p])
        assert loc is not None
        assert all(f.nullable for f in loc.fields)
        assert loc == spark.read.parquet(p).schema

    def test_required_nested_field_falls_back_or_matches(self, spark, tmp_path):
        """A required field INSIDE a struct: Spark's read relaxes it too, and
        so does the footer read — the fast path answers, with Spark's exact
        schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyvectorsearch_spark.plans.local import _footer_schema

        schema, row = _schema_matrix()["struct"]
        p = os.path.join(tmp_path, "nested.parquet")
        pq.write_table(pa.table(row, schema=schema), p)
        loc = _footer_schema([p])
        assert loc is not None
        assert loc.json() == spark.read.parquet(p).schema.json()

    @pytest.mark.parametrize("case", sorted(_schema_matrix()))
    def test_footer_schema_equals_spark_read(self, spark, tmp_path, case):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyvectorsearch_spark.plans.local import _footer_schema, parquet_schema

        schema, row = _schema_matrix()[case]
        p = os.path.join(tmp_path, f"{case}.parquet")
        pq.write_table(pa.table(row, schema=schema), p)
        want = spark.read.parquet(p).schema.json()
        assert _footer_schema([p]) is not None
        assert parquet_schema(spark, p).json() == want

    @pytest.mark.parametrize("case", sorted(_schema_matrix()))
    def test_write_table_round_trip(self, spark, tmp_path, case):
        """``write_table`` writes what Spark reads back with the footer
        schema's types, every field nullable, and the rows intact."""
        import pyarrow as pa

        from pyvectorsearch_spark.plans.local import _files, _footer_schema, write_table

        schema, row = _schema_matrix()[case]
        out = str(tmp_path / case)
        write_table(pa.table(row, schema=schema), out)
        back = spark.read.parquet(out)
        loc = _footer_schema(_files(spark, out))
        assert loc is not None and loc.json() == back.schema.json()
        assert back.count() == 1

    def test_ns_timestamps_fall_back(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyvectorsearch_spark.plans.local import _footer_schema, parquet_schema

        p = os.path.join(tmp_path, "ns.parquet")
        pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), p,
                       version="2.6", coerce_timestamps=None)
        assert _footer_schema([p]) is None
        # Spark reads ns only as raw int64, under load_table's conf
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            assert dict((f.name, f.dataType.simpleString())
                        for f in parquet_schema(spark, p)) == {"ts": "bigint"}
        finally:
            spark.conf.unset(key) if prev is None else spark.conf.set(key, prev)

    def test_mixed_schema_dir_falls_back(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyvectorsearch_spark.plans.local import _files, _footer_schema, parquet_schema

        d = os.path.join(tmp_path, "land")
        os.makedirs(d)
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}),
                       os.path.join(d, "part-0.parquet"))
        pq.write_table(pa.table({"a": pa.array([1], type=pa.int64()),
                                 "b": pa.array([2.0])}),
                       os.path.join(d, "part-1.parquet"))
        assert _footer_schema(_files(spark, d)) is None
        assert parquet_schema(spark, d) == spark.read.parquet(d).schema

    def test_uniform_dir_still_fast_path(self, spark):
        from pyvectorsearch_spark.plans.local import _files, _footer_schema, parquet_schema
        from pyvectorsearch_spark.queries.streaming import _events_landing

        landing = _events_landing(spark, SF_T2)
        loc = _footer_schema(_files(spark, landing))
        want = spark.read.parquet(landing).schema
        if loc is not None:  # Spark's INT96 timestamps read as ns: Spark's read
            assert loc == want
        assert parquet_schema(spark, landing) == want

    def test_local_path_follows_default_fs(self, spark, tmp_path):
        """A scheme-less path is local only while the Hadoop default
        filesystem is: the same existing directory resolves to None under a
        non-``file:`` ``fs.defaultFS``. The conf is only read, never used
        to reach a filesystem."""
        from pyvectorsearch_spark.plans.local import local_path

        d = str(tmp_path)
        conf = spark._jsc.hadoopConfiguration()
        prev = conf.get("fs.defaultFS")
        assert local_path(spark, d) == d
        assert local_path(spark, f"file:{d}") == d
        assert local_path(spark, "s3a://bucket/x") is None
        try:
            conf.set("fs.defaultFS", "hdfs://namenode.invalid:8020")
            assert local_path(spark, d) is None
            assert local_path(spark, f"file:{d}") == d
        finally:
            if prev is None:
                conf.unset("fs.defaultFS")
            else:
                conf.set("fs.defaultFS", prev)
        assert local_path(spark, d) == d

    def test_only_local_py_does_driver_io(self):
        """The local-path rule, the nullability relax, the Arrow read and the
        pandas-to-Spark hand-off live in ``plans/local.py`` alone: a second
        copy is how the four ``file:`` strips and the two halves of the
        nullability rule drifted apart before."""
        from pathlib import Path

        import pyvectorsearch_spark

        pkg = Path(pyvectorsearch_spark.__file__).parent
        owner = pkg / "plans" / "local.py"
        needles = ('startswith("file:")', "with_nullable(", ".toArrow()",
                   "createDataFrame(pd.DataFrame")
        forks = sorted(
            f"{f.relative_to(pkg).as_posix()}: {n}"
            for f in pkg.rglob("*.py") if f != owner
            for n in needles if n in f.read_text()
        )
        assert not forks, forks
        assert all(n in owner.read_text() for n in needles)


class TestScaledStatePartsCap:
    def test_session_cap_wins_below_floor(self, spark):
        from pyvectorsearch_spark.queries.streaming import _scaled_state_parts

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            assert _scaled_state_parts(spark, SF_T2) == 4
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


class TestEmbAutoDispatch:
    def test_small_parquet_takes_blocked(self, spark):
        from pyvectorsearch_spark.operators.dedup import embedding_dup_pairs_auto
        from pyvectorsearch_spark.sources.tables import load_table

        emb = load_table(spark, SF_T2, "embeddings")
        dec = {}
        df = embedding_dup_pairs_auto(emb, min_cosine=0.4, decision_out=dec)
        assert dec["kernel"] == "blocked"
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one Python boundary, no grouped-pandas shuffle stage
        assert "FlatMapGroupsInPandas" not in plan

    def test_kernels_identical(self, spark):
        from pyvectorsearch_spark.operators.dedup import (
            angular_bucket_model,
            embedding_dup_pairs_auto,
            embedding_dup_pairs_bucketed,
        )
        from pyvectorsearch_spark.sources.tables import load_table

        emb = load_table(spark, SF_T2, "embeddings")
        model = angular_bucket_model(emb, n_lists=16, seed=42)
        want = {
            tuple(r)
            for r in embedding_dup_pairs_bucketed(emb, min_cosine=0.4, model=model)
            .select("d1", "d2", F.round("cosine", 6).alias("c"))
            .collect()
        }
        got = {
            tuple(r)
            for r in embedding_dup_pairs_auto(emb, min_cosine=0.4)
            .select("d1", "d2", F.round("cosine", 6).alias("c"))
            .collect()
        }
        assert got == want and len(got) > 0

    def test_unknown_size_takes_bucketed(self, spark):
        from pyvectorsearch_spark.operators.dedup import (
            angular_bucket_model,
            embedding_dup_pairs_auto,
        )

        rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(64)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        dec = {}
        embedding_dup_pairs_auto(
            df,
            min_cosine=0.9,
            model_fn=lambda: angular_bucket_model(df, n_lists=4, seed=1),
            decision_out=dec,
        )
        assert dec["kernel"] == "bucketed"


class TestPooledPersistSamePlan:
    def test_same_plan_refreshes_instead_of_double_persist(self, spark):
        """r11: persisting a plan semantically equal to a pooled entry must
        NOT create a second handle over the same CacheManager entry — the
        FIFO's later unpersist of the old handle would kill the cache out
        from under the new one (measured 27.3 s vs 2 s on a repeat
        text_lr_calibrate invocation)."""
        from pyvectorsearch_spark.plans import cachepool

        cachepool.drain_pool()
        df1 = spark.range(100).selectExpr("id", "id * 3 AS v")
        out1 = cachepool.pooled_persist(df1)
        n_before = len(cachepool._POOL)
        df2 = spark.range(100).selectExpr("id", "id * 3 AS v")
        out2 = cachepool.pooled_persist(df2)
        assert len(cachepool._POOL) == n_before  # refreshed, not appended
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.lookupCachedData(out2._jdf).isDefined()
        # evicting everything still cleans the shared entry exactly once
        cachepool.drain_pool()
        assert not cm.lookupCachedData(out1._jdf).isDefined()

    def test_distinct_plans_still_pooled_and_evicted(self, spark):
        from pyvectorsearch_spark.plans import cachepool

        cachepool.drain_pool()
        handles = [
            cachepool.pooled_persist(spark.range(10 + i).selectExpr("id"))
            for i in range(cachepool.POOL_LIMIT + 2)
        ]
        assert len(cachepool._POOL) == cachepool.POOL_LIMIT
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert not cm.lookupCachedData(handles[0]._jdf).isDefined()
        assert cm.lookupCachedData(handles[-1]._jdf).isDefined()
        cachepool.drain_pool()


class TestQsBroadcast:
    def test_knn_query_table_plan_has_no_smj(self, spark):
        """With parquet-derived probes (a known plan-size estimate) both
        probe-bounded joins of the distributed search are broadcast by the
        gate's hints: the b0 attach (LeftOuter) and the probe re-attach
        (Inner). No sort-merge join is keyed on ``_qid`` (r11: the SMJ paid
        an exchange + two sorts of the survivor table). Size-based
        auto-broadcast is off, so only the hints can make them broadcasts."""
        import re

        from pyvectorsearch_spark.queries.vector import QUERIES

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = QUERIES["knn_grid_query_table"](spark, SF_T2)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        qid_joins = set(
            re.findall(r"(\w+Join) \[_qid#\d+L?\], \[_qid#\d+L?\], (\w+)", plan)
        )
        assert ("BroadcastHashJoin", "LeftOuter") in qid_joins, plan[:3000]
        assert ("BroadcastHashJoin", "Inner") in qid_joins, plan[:3000]
        assert not {j for j in qid_joins if j[0] == "SortMergeJoin"}, plan[:3000]
