"""The two workloads. Each drives the package's public API with one
client in a closed loop: the next request is sent only when the previous
one has returned and been checked.

A workload object owns its inputs and the program objects built from them:

- ``setup(spark)`` loads the inputs through the program and builds what a
  deployment builds before it serves; ``teardown()`` drops it again;
- ``warmup()`` runs one untimed round (and builds what the program builds
  lazily, on a first request);
- ``round(rng)`` runs one round and returns its requests;
- ``details()`` and ``layers()`` turn what the rounds saw into report
  figures and per-layer metrics.

``KNN_OP`` and ``RANGE_OP`` name the requests behind the end-to-end
``knn_p50_s`` and ``range_p50_s``. A request is ``(op, seconds, ok)``; a
request whose answer is wrong counts as failed, and the check is not timed.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from perfbench import gen, oracle


def median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def tail(xs):
    """(value, percentile): the highest percentile with at least ten samples
    beyond it, or (None, None) when there are too few samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None, None
    return xs[len(xs) - 11], round(100.0 * (len(xs) - 10) / len(xs), 1)


def by_op(requests) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for op, dt, _ in requests:
        by.setdefault(op, []).append(dt)
    return by


def _tail_entry(xs) -> dict:
    value, pct = tail(xs)
    return {"value": value, "percentile": pct, "n": len(xs)}


def _read_matrix(path: str, id_col: str, vec_col: str):
    t = pq.read_table(path)
    ids = t.column(id_col).to_numpy()
    vecs = np.asarray(t.column(vec_col).combine_chunks().flatten().to_numpy(zero_copy_only=False),
                      dtype=np.float64).reshape(len(ids), -1)
    return ids, vecs


def _sq_dists(probes: np.ndarray, data: np.ndarray) -> np.ndarray:
    return np.stack([((data - q) ** 2).sum(axis=1) for q in probes])


def _pairs(rows) -> dict[int, list[tuple[int, float]]]:
    """Group collected (query_id, neighbor_id, dist[, rank]) rows per query,
    in rank order when there is a rank."""
    out: dict[int, list] = {}
    has_rank = bool(rows) and "rank" in rows[0].asDict()
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"] if has_rank else 0)):
        out.setdefault(int(r["query_id"]), []).append((int(r["neighbor_id"]), float(r["dist"])))
    return out


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


class GridServeIngest:
    """Batch GridIndex reads over a skewed lat/lon base alternating with
    streamed inserts into a rebalanced index."""

    K = 8
    KNN_OP, RANGE_OP = "grid_knn", "grid_range"
    LAYER_METRICS = tuple(
        f"index.grid.{m}" for m in ("build_s", "build_jobs", "cells", "knn_s", "knn_jobs",
                                    "range_s", "pairs_per_probe", "shuffle_bytes",
                                    "exec_run_s", "driver_s")
    ) + ("streaming.batch_s", "streaming.batches", "streaming.rows_per_batch") + tuple(
        f"index.incremental.{m}" for m in ("load_s", "data_files", "sidecar_bytes", "write_amp"))

    def __init__(self, inputs: str, work: str, tracer, cores: int):
        self.inputs, self.work, self.tracer, self.cores = inputs, work, tracer, cores
        self.base_ids, self.base = _read_matrix(f"{inputs}/base.parquet", "vec_id", "p2")
        self.probe = {n: _read_matrix(f"{inputs}/{n}.parquet", "query_id", "qvec")
                      for n in ("knn_probes", "range_probes", "ingest_probes")}
        self.chunks = sorted(os.listdir(f"{inputs}/chunks"))
        self.build_s: list[float] = []
        self.progress: list[dict] = []
        self.base_d2 = {n: _sq_dists(self.probe[n][1], self.base)
                        for n in ("knn_probes", "range_probes")}

    def setup(self, spark) -> None:
        from pyvectorsearch_spark.index.grid import GridIndex

        self.spark = spark
        path = f"{self.work}/grid"
        shutil.rmtree(path, ignore_errors=True)

        def build():
            base = spark.read.parquet(f"{self.inputs}/base.parquet")
            GridIndex.build(base, vec_col="p2", id_col="vec_id").write(path)
            return GridIndex.load(spark, path)

        t0 = time.perf_counter()
        self.grid = self.tracer.span("index.grid.build", build)
        self.build_s.append(time.perf_counter() - t0)
        self.dfs = {n: spark.read.parquet(f"{self.inputs}/{n}.parquet") for n in self.probe}
        self.chunk_schema = spark.read.parquet(f"{self.inputs}/chunks/{self.chunks[0]}").schema
        self.stream_root = f"{self.work}/stream"
        shutil.rmtree(self.stream_root, ignore_errors=True)
        for d in ("landing", "out", "ck", "meta"):
            os.makedirs(f"{self.stream_root}/{d}")
        self.landed_ids: list[np.ndarray] = []
        self.landed: list[np.ndarray] = []
        self._chunk = 0

    def teardown(self) -> None:
        pass

    def _read_phase(self, call_id: int) -> list:
        tr = self.tracer
        out = []
        q = self.dfs["knn_probes"]
        t0 = time.perf_counter()
        rows = tr.span("index.grid.knn",
                       lambda: self.grid.knn(q, self.K, candidates="distributed").collect(),
                       call_id=call_id)
        dt = time.perf_counter() - t0
        got = _pairs(rows)
        d2 = self.base_d2["knn_probes"]
        ok = all(oracle.check_knn(d2[i], self.base_ids, got.get(int(qid), []), self.K)
                 for i, qid in enumerate(self.probe["knn_probes"][0]))
        out.append(("grid_knn", dt, ok))

        q = self.dfs["range_probes"]
        t0 = time.perf_counter()
        rows = tr.span("index.grid.range",
                       lambda: self.grid.range(q, gen.GRID_RANGE_RADIUS).collect(),
                       call_id=call_id)
        dt = time.perf_counter() - t0
        got = _pairs(rows)
        d2 = self.base_d2["range_probes"]
        r2 = gen.GRID_RANGE_RADIUS ** 2
        ok = all(oracle.check_range(d2[i], self.base_ids, got.get(int(qid), []), r2)
                 for i, qid in enumerate(self.probe["range_probes"][0]))
        out.append(("grid_range", dt, ok))
        return out

    def _write_phase(self, call_id: int) -> list:
        from pyvectorsearch_spark.index.grid import GridIndex
        from pyvectorsearch_spark.index.incremental import load_rebalanced_index
        from pyvectorsearch_spark.streaming.ingest import stream_index_ingest

        if self._chunk >= len(self.chunks):
            raise RuntimeError("grid_serve_ingest ran out of landing chunks; raise GRID_CHUNKS")
        name = self.chunks[self._chunk]
        self._chunk += 1
        src = f"{self.inputs}/chunks/{name}"
        shutil.copy(src, f"{self.stream_root}/landing/{name}")
        ids, pts = _read_matrix(src, "vec_id", "p2")
        self.landed_ids.append(ids)
        self.landed.append(pts)
        g = self.grid
        spark = self.spark
        root = self.stream_root
        rebalance = dict(meta_path=f"{root}/meta", fine_level=g.fine_level, dim=g.dim,
                         rr=g.rr, ratio=g.ratio, rank=g.rank)
        groups: list[str] = []

        def drain():
            stream = spark.readStream.schema(self.chunk_schema).parquet(f"{root}/landing")
            assign = lambda df: df.withColumn("cell", GridIndex._cell_expr(  # noqa: E731
                "p2", g.origin, g.width, g.fine_level, g.dim, g.rr, g.ratio, clamp=False))
            query = stream_index_ingest(stream, assign=assign, out_path=f"{root}/out",
                                        checkpoint=f"{root}/ck", rebalance=rebalance)
            groups.append(str(query.runId))
            query.awaitTermination()
            return [p for p in query.recentProgress if p.numInputRows > 0]

        t0 = time.perf_counter()
        progress = self.tracer.span("streaming.ingest", drain, call_id=call_id, groups=groups)
        dt = time.perf_counter() - t0
        self.progress += [{"phase": self.tracer.phase, "batches": len(progress),
                           "batch_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                           "rows": p.numInputRows} for p in progress]
        # the rows landed are checked by the kNN over the ingested index below
        out = [("ingest", dt, len(progress) == 1)]

        q = self.dfs["ingest_probes"]
        t0 = time.perf_counter()

        def serve():
            idx = self.tracer.span("index.incremental.load", lambda: load_rebalanced_index(
                spark, data_path=f"{root}/out", origin=g.origin, width=g.width,
                id_col=g.id_col, vec_col=g.vec_col, **rebalance), call_id=call_id,
                parent="index.grid.ingested_knn")
            return idx.knn(q, self.K).collect()

        rows = self.tracer.span("index.grid.ingested_knn", serve, call_id=call_id)
        dt = time.perf_counter() - t0
        got = _pairs(rows)
        all_ids = np.concatenate(self.landed_ids)
        d2 = _sq_dists(self.probe["ingest_probes"][1], np.vstack(self.landed))
        ok = all(oracle.check_knn(d2[i], all_ids, got.get(int(qid), []), self.K)
                 for i, qid in enumerate(self.probe["ingest_probes"][0]))
        out.append(("ingested_knn", dt, ok))
        return out

    def warmup(self) -> list:
        """The read phase only: it holds most of a first round's cold cost
        (``GridIndex.knn`` runs twice as long cold), and a whole round would
        add a tenth to the run."""
        return self._read_phase(self.tracer.new_call_id())

    def round(self, rng) -> list:
        """A read phase, then a write phase; the order is fixed, so the seed
        only shapes the inputs."""
        call_id = self.tracer.new_call_id()
        return self._read_phase(call_id) + self._write_phase(call_id)

    def details(self, requests) -> dict:
        by = by_op(requests)
        n_probes = (len(by["grid_knn"]) * gen.GRID_KNN_PROBES
                    + len(by["grid_range"]) * gen.GRID_RANGE_PROBES
                    + len(by["ingested_knn"]) * gen.GRID_INGEST_PROBES)
        read_s = sum(by["grid_knn"]) + sum(by["grid_range"]) + sum(by["ingested_knn"])
        return {
            "knn_tail_s": _tail_entry(by["grid_knn"]),
            "range_tail_s": _tail_entry(by["grid_range"]),
            "probes_per_s": n_probes / read_s,
            "ingest_rows_per_s": gen.GRID_CHUNK_ROWS * len(by["ingest"]) / sum(by["ingest"]),
            "ingest_batch_p50_s": median(by["ingest"]),
        }

    def layers(self) -> dict:
        from perfbench.trace import tree_bytes

        tr = self.tracer
        knn = tr.calls("index.grid.knn", "measure")
        progress = [p for p in self.progress if p["phase"] == "measure"]
        data_files, data_bytes = tree_bytes(f"{self.stream_root}/out", ".parquet")
        _, side_bytes = tree_bytes(f"{self.stream_root}/meta")
        _, landed_bytes = tree_bytes(f"{self.stream_root}/landing", ".parquet")
        return {
            "index.grid.build_s": median(self.build_s),
            "index.grid.build_jobs": median(s["jobs"] for s in tr.calls("index.grid.build")),
            "index.grid.cells": self.grid.stats_df.count(),
            "index.grid.knn_s": median(_wall(s) for s in knn),
            "index.grid.knn_jobs": median(s["jobs"] for s in knn),
            "index.grid.range_s": median(_wall(s) for s in tr.calls("index.grid.range", "measure")),
            "index.grid.pairs_per_probe": median(s["peak_rows"] for s in knn) / gen.GRID_KNN_PROBES,
            "index.grid.shuffle_bytes": median(s["shuffle_bytes"] for s in knn),
            "index.grid.exec_run_s": median(s["exec_run_s"] for s in knn),
            "index.grid.driver_s": median(s["driver_s"] for s in knn),
            "streaming.batch_s": median(p["batch_s"] for p in progress),
            "streaming.batches": median(p["batches"] for p in progress),
            "streaming.rows_per_batch": median(p["rows"] for p in progress),
            "index.incremental.load_s": median(
                _wall(s) for s in tr.calls("index.incremental.load", "measure")),
            "index.incremental.data_files": data_files,
            "index.incremental.sidecar_bytes": side_bytes,
            "index.incremental.write_amp": (data_bytes + side_bytes) / max(1, landed_bytes),
        }


class PipelineMix:
    """bench.py's headline queries that cover the chosen layers, through the
    query registry, plus approximate IVF kNN, in a seeded order per pass."""

    #: bench.HEADLINE rows kept. The vector rows are thin wrappers around one
    #: operator each (``OPERATOR_QUERIES``); the others cover the relational,
    #: dedup and text operators and plans.cachepool (dedup_simhash). All read
    #: through sources.load_table.
    QUERIES = ("knn_bruteforce", "knn_payload", "range_search", "knn_topk_global",
               "q1_pricing_summary", "dedup_simhash", "text_fingerprint")
    #: Approximate kNN: ``IVFIndex.knn`` with nprobe 4 of 16 lists and
    #: distributed candidates, so each probe scans only its own four lists
    #: (the registry's ``knn_ivf_approx`` scans the union of all probes' lists,
    #: which for these 8 probes is the whole index). It has no SQL oracle, so
    #: recall is checked instead.
    ANN_OP, N_LISTS, NPROBE = "ivf_knn", 16, 4
    #: Lowest recall@K of one ANN call (mean over the probes) that passes.
    #: A numpy replica of the index read 0.925-1.0 at seeds 1-10.
    RECALL_FLOOR = 0.8
    OPERATOR_QUERIES = {"knn_join_blocked": "knn_bruteforce", "knn_join": "knn_payload",
                        "range_join": "range_search", "topk_global": "knn_topk_global"}
    KNN_OP, RANGE_OP = "knn_bruteforce", "range_search"
    TABLES = ("embeddings", "documents", "orders", "lineitem")
    K = 5  # queries.vector.K
    OTHER_QUERIES = QUERIES[4:]  # after the four operator rows
    LAYER_METRICS = ("sources.load_table_s", "sources.load_table_jobs") + tuple(
        f"queries.{m}" for m in ("build_s", "run_s", "jobs", "eager_jobs", "stages", "tasks",
                                 "exec_run_s", "shuffle_bytes", "spill_bytes", "core_util")
    ) + tuple(f"queries.{q}.{m}" for q in OTHER_QUERIES for m in ("s", "jobs")) + tuple(
        f"operators.{op}.{m}" for op in OPERATOR_QUERIES
        for m in ("wall_s", "jobs", "exec_run_s", "driver_s", "pairs_per_result")
    ) + tuple(f"index.ivf.{m}" for m in ("build_s", "build_jobs", "knn_s", "knn_jobs",
                                         "lists_probed_frac", "candidates_per_probe")
    ) + ("plans.cachepool.live_handles", "plans.cachepool.storage_mb")

    def __init__(self, inputs: str, work: str, tracer, cores: int):
        from bench import HEADLINE

        self.inputs, self.work, self.tracer, self.cores = inputs, work, tracer, cores
        self.names = [n for n in HEADLINE if n in self.QUERIES]
        self.ops = self.names + [self.ANN_OP]
        self.build_s: list[float] = []  # the IVF build, once per run
        self.result_rows: dict[str, int] = {}
        self.recalls: list[float] = []
        ids, X = _read_matrix(f"{inputs}/embeddings.parquet", "vec_id", "embedding")
        self.ids = ids
        self.probe_ids = ids[ids < gen.PIPE_PROBES]
        self.d2 = _sq_dists(X[ids < gen.PIPE_PROBES], X)
        self.exact = oracle.exact_topk(self.d2, ids, self.K)

    def setup(self, spark) -> None:
        from pyvectorsearch_spark.queries import all_queries
        from pyvectorsearch_spark.sources.tables import load_table

        self.spark = spark
        self.registry = all_queries()
        for t in self.TABLES:
            self.tracer.span("sources.load_table", lambda: load_table(spark, self.inputs, t))
        self.probe_df = load_table(spark, self.inputs, "embeddings").filter(
            f"vec_id < {gen.PIPE_PROBES}").selectExpr("vec_id AS query_id", "embedding AS qvec")

    def _build_ivf(self) -> None:
        """Build the IVF index as the registry's IVF queries do (same cache
        key and parameters): the cache-miss path of
        ``index.cache.build_or_load``."""
        from pyvectorsearch_spark.index.cache import build_or_load, cache_root
        from pyvectorsearch_spark.index.ivf import IVFIndex
        from pyvectorsearch_spark.sources.tables import dataset_tag, load_table

        shutil.rmtree(cache_root(), ignore_errors=True)
        emb = load_table(self.spark, self.inputs, "embeddings")
        t0 = time.perf_counter()
        self.ivf = self.tracer.span("index.ivf.build", lambda: build_or_load(
            self.spark, f"ivf{self.N_LISTS}_seed42_{dataset_tag(self.inputs, 'embeddings')}",
            load=IVFIndex.load, build=lambda: IVFIndex.build(emb, n_lists=self.N_LISTS, seed=42)))
        self.build_s.append(time.perf_counter() - t0)

    def teardown(self) -> None:
        from pyvectorsearch_spark.plans.cachepool import drain_pool

        drain_pool()

    def _ann(self, call_id: int) -> tuple:
        """One ANN request. Its answer must hold, per probe, K distinct ids in
        rank order with the right distances, and mean recall@K must reach the
        floor."""
        t0 = time.perf_counter()
        rows = self.tracer.span("index.ivf.knn", lambda: self.ivf.knn(
            self.probe_df, self.K, nprobe=self.NPROBE, candidates="distributed").collect(),
            call_id=call_id)
        dt = time.perf_counter() - t0
        got = _pairs(rows)
        ok, recalls = True, []
        for i, qid in enumerate(self.probe_ids):
            pairs = got.get(int(qid), [])
            ok &= len(pairs) == self.K and oracle.check_approx(self.d2[i], self.ids, pairs, self.K)
            recalls.append(oracle.recall(self.exact[i], [p[0] for p in pairs]))
        self.recalls.append(float(np.mean(recalls)))
        return self.ANN_OP, dt, bool(ok) and self.recalls[-1] >= self.RECALL_FLOOR

    def warmup(self) -> list:
        """Build the IVF index, then one untimed pass that checks every
        registry query against its DuckDB oracle with the ``/verify`` row
        normalisation, and one ANN request."""
        import duckdb
        from __spark_entry__ import oracle_sql

        self._build_ivf()
        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
            out = []
            for name in self.names:
                t0 = time.perf_counter()
                got = self.registry[name](self.spark, self.inputs).toPandas()
                dt = time.perf_counter() - t0
                self.result_rows[name] = len(got)
                want = con.sql(oracles[name]).df()
                out.append((name, dt, oracle.normalized_rows(got) == oracle.normalized_rows(want)))
            return out + [self._ann(0)]
        finally:
            con.close()

    def round(self, rng) -> list:
        from bench import _force

        tr = self.tracer
        out = []
        for i in rng.permutation(len(self.ops)):
            name = self.ops[i]
            gc.collect()
            call_id = tr.new_call_id()
            if name == self.ANN_OP:
                out.append(self._ann(call_id))
                continue
            t0 = time.perf_counter()
            df = tr.span("queries.build", lambda: self.registry[name](self.spark, self.inputs),
                         call_id=call_id, parent=name)
            tr.span("queries.run", lambda: _force(df), call_id=call_id, parent=name)
            out.append((name, time.perf_counter() - t0, True))
        return out

    def details(self, requests) -> dict:
        by = by_op(requests)
        vector = ("knn_bruteforce", "knn_payload", "range_search", self.ANN_OP)
        return {
            "knn_tail_s": _tail_entry(by["knn_bruteforce"]),
            "range_tail_s": _tail_entry(by["range_search"]),
            "payload_knn_p50_s": median(by["knn_payload"]),
            "ann_p50_s": median(by[self.ANN_OP]),
            "recall_at_k": {"value": min(self.recalls), "k": self.K, "nprobe": self.NPROBE,
                            "n_lists": self.N_LISTS, "calls": len(self.recalls),
                            "floor": self.RECALL_FLOOR},
            "probes_per_s": gen.PIPE_PROBES * sum(len(by[n]) for n in vector)
            / sum(sum(by[n]) for n in vector),
        }

    def layers(self) -> dict:
        from pyvectorsearch_spark.plans import cachepool

        tr = self.tracer
        n = len(self.names)
        build, run = tr.calls("queries.build", "measure"), tr.calls("queries.run", "measure")
        passes = [(build[i:i + n], run[i:i + n]) for i in range(0, len(build), n)]

        def per_pass(key, builds_only=False):
            return median(sum(s[key] for s in (b if builds_only else b + r)) for b, r in passes)

        walls = [sum(_wall(s) for s in b + r) for b, r in passes]
        execs = [sum(s["exec_run_s"] for s in b + r) for b, r in passes]
        loads = tr.calls("sources.load_table")
        ivf_builds = tr.calls("index.ivf.build")
        out = {
            "sources.load_table_s": median(_wall(s) for s in loads),
            "sources.load_table_jobs": median(s["jobs"] for s in loads),
            "queries.build_s": median(sum(_wall(s) for s in b) for b, _ in passes),
            "queries.run_s": median(sum(_wall(s) for s in r) for _, r in passes),
            "queries.jobs": per_pass("jobs"),
            "queries.eager_jobs": per_pass("jobs", builds_only=True),
            "queries.stages": per_pass("stages"),
            "queries.tasks": per_pass("tasks"),
            "queries.exec_run_s": per_pass("exec_run_s"),
            "queries.shuffle_bytes": per_pass("shuffle_bytes"),
            "queries.spill_bytes": per_pass("spill_bytes"),
            "queries.core_util": median(e / (w * self.cores) for e, w in zip(execs, walls)),
            "plans.cachepool.live_handles": len(cachepool._POOL),
            "plans.cachepool.storage_mb": sum(
                i.memSize() + i.diskSize()
                for i in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20,
        }
        calls = {name: [(b, r) for b, r in zip(build, run) if b["parent"] == name]
                 for name in self.names}

        def stat(name, key):
            return median(b[key] + r[key] for b, r in calls[name])

        def peak_rows(name):
            return median(max(b["peak_rows"], r["peak_rows"]) for b, r in calls[name])

        for name in self.OTHER_QUERIES:
            out[f"queries.{name}.s"] = median(_wall(b) + _wall(r) for b, r in calls[name])
            out[f"queries.{name}.jobs"] = stat(name, "jobs")
        for op, name in self.OPERATOR_QUERIES.items():
            out.update({
                f"operators.{op}.wall_s": median(_wall(b) + _wall(r) for b, r in calls[name]),
                f"operators.{op}.jobs": stat(name, "jobs"),
                f"operators.{op}.exec_run_s": stat(name, "exec_run_s"),
                f"operators.{op}.driver_s": stat(name, "driver_s"),
                f"operators.{op}.pairs_per_result": peak_rows(name) / max(1, self.result_rows[name]),
            })
        ann = tr.calls("index.ivf.knn", "measure")
        out.update({
            "index.ivf.build_s": self.build_s[0],
            "index.ivf.build_jobs": median(s["jobs"] for s in ivf_builds),
            "index.ivf.knn_s": median(_wall(s) for s in ann),
            "index.ivf.knn_jobs": median(s["jobs"] for s in ann),
            # each probe scans its own NPROBE nearest lists
            "index.ivf.lists_probed_frac": min(self.NPROBE, len(self.ivf.centroids))
            / len(self.ivf.centroids),
            "index.ivf.candidates_per_probe": median(s["peak_rows"] for s in ann) / gen.PIPE_PROBES,
        })
        return out


WORKLOADS = {
    "grid_serve_ingest": GridServeIngest,
    "pipeline_mix": PipelineMix,
}
