"""Round-10: leveled (LSM-style) sidecar folds (VERDICT r9 ask #3).

The r9 fold collapsed base+deltas into a fresh base every ``fold_every``
batches — an amortized O(cells)/fold_every per-batch term that grows
linearly with index size (the one remaining O(cells) write-path term).
Round 10 levels it: deltas fold into intermediate runs (cost = those
batches' closures), runs merge geometrically, and the base is rewritten
only when the accumulated runs have grown to its size.

Pins:
(a) equivalence after EVERY batch against ``_kinstantiate_driver`` ground
    truth across fold/run-merge/base-merge boundaries;
(b) the base is NOT rewritten on every fold (the point of leveling);
(c) ``run_merge_k=0`` restores the r9 fold-to-base behavior;
(d) a pre-r10 pointer (no runs/seq keys) resumes cleanly;
(e) the janitor retires superseded runs deferred, like bases.
"""

from __future__ import annotations

import json
import os
import random

from pyvectorsearch_spark.index.grid import _kinstantiate_driver
import pytest

import pyvectorsearch_spark.index.incremental as inc
from pyvectorsearch_spark.index.incremental import (
    apply_batch_rebalance,
    read_pointer,
    read_mapping,
    read_stats,
)
from pyvectorsearch_spark.plans import local

pytestmark = pytest.mark.slow  # soak/property tier: excluded from the default (driver-visible) run, see pytest.ini (r11)

FINE, DIM, RR, RATIO, RANK = 6, 2, 2, 2, 4
GEOM = dict(fine_level=FINE, dim=DIM, rr=RR, ratio=RATIO, rank=RANK)


def _apply(spark, meta, cells, bid, **kw):
    df = spark.createDataFrame([(c,) for c in cells], "cell string")
    apply_batch_rebalance(
        spark, assigned_batch=df, batch_id=bid, meta_path=meta,
        **GEOM, **kw,
    )


def _ground_truth(acc):
    assign, stats = _kinstantiate_driver(dict(acc), **GEOM)
    return assign, sorted(
        (cid, lvl, tuple(cds), cnt) for cid, lvl, cds, cnt in stats
    )


def _maintained(spark, meta):
    got_map = {
        r["_fine"]: r["cell"] for r in read_mapping(spark, meta).collect()
    }
    got_stats = sorted(
        (r["cell"], r["level"], tuple(r["coords"]), r["count"])
        for r in read_stats(spark, meta).collect()
    )
    return got_map, got_stats


class TestLeveledEquivalence:
    def test_ground_truth_across_all_merge_boundaries(self, spark, tmp_path):
        """18 random batches, fold_every=2, run_merge_k=2: folds, run
        merges, and base merges all fire; maintained tables must equal the
        full driver cascade after EVERY batch."""
        meta = str(tmp_path / "meta")
        rng = random.Random(101)
        acc: dict[str, int] = {}
        saw_runs = saw_base_merge = False
        base_versions = set()
        for b in range(18):
            cells = [
                f"{FINE}_{rng.randint(0, 7)}_{rng.randint(0, 7)}"
                for _ in range(6)
            ]
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=2)
            for c in cells:
                acc[c] = acc.get(c, 0) + 1
            assert _maintained(spark, meta) == _ground_truth(acc), (
                f"diverged at batch {b}"
            )
            ptr = read_pointer(meta)
            if ptr["state_runs"]:
                saw_runs = True
            if ptr["state_base"] is not None:
                if base_versions and ptr["state_base"] not in base_versions:
                    saw_base_merge = True
                base_versions.add(ptr["state_base"])
        assert saw_runs, "no intermediate run was ever live"
        assert saw_base_merge, "the geometric base merge never fired"

    def test_base_not_rewritten_every_fold(self, spark, tmp_path):
        """With run_merge_k=4 and fold_every=2, 16 batches produce 8
        folds; the base may be written at bootstrap plus at geometric
        merges only — strictly fewer base versions than folds."""
        meta = str(tmp_path / "meta")
        rng = random.Random(7)
        base_versions = set()
        n_folds = 0
        prev_upto = -1
        for b in range(16):
            cells = [
                f"{FINE}_{rng.randint(0, 7)}_{rng.randint(0, 7)}"
                for _ in range(5)
            ]
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=4)
            ptr = read_pointer(meta)
            if ptr["state_upto"] != prev_upto:
                n_folds += 1
                prev_upto = ptr["state_upto"]
            if ptr["state_base"] is not None:
                base_versions.add(ptr["state_base"])
        assert n_folds == 8
        assert len(base_versions) < n_folds, (
            f"base rewritten {len(base_versions)} times in {n_folds} folds "
            "— leveling is not amortizing"
        )

    def test_run_merge_k_zero_restores_fold_to_base(self, spark, tmp_path):
        meta = str(tmp_path / "meta")
        rng = random.Random(3)
        acc: dict[str, int] = {}
        for b in range(6):
            cells = [
                f"{FINE}_{rng.randint(0, 6)}_{rng.randint(0, 6)}"
                for _ in range(5)
            ]
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=0)
            for c in cells:
                acc[c] = acc.get(c, 0) + 1
        ptr = read_pointer(meta)
        assert ptr["state_base"] is not None
        assert ptr["state_runs"] == [] and ptr["map_runs"] == []
        assert ptr["state_upto"] == 5  # every fold collapsed to the base
        assert _maintained(spark, meta) == _ground_truth(acc)


class TestDistributedRegime:
    def _drain(self, spark, tmp_path, monkeypatch, gates):
        """``gates``: {(module, constant): value} settings to force."""
        for (mod, k), v in gates.items():
            monkeypatch.setattr(mod, k, v)
        monkeypatch.setattr(inc, "_CACHE_MAX_ROWS", 0)
        monkeypatch.setattr(inc, "_CACHE", {})
        meta = str(tmp_path / "meta")
        rng = random.Random(55)
        acc: dict[str, int] = {}
        for b in range(8):
            cells = [
                f"{FINE}_{rng.randint(0, 7)}_{rng.randint(0, 7)}"
                for _ in range(6)
            ]
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=2)
            for c in cells:
                acc[c] = acc.get(c, 0) + 1
            assert inc._CACHE == {}  # the cache never engaged
            assert _maintained(spark, meta) == _ground_truth(acc), (
                f"diverged at batch {b}"
            )

    def test_filtered_pyarrow_tier(self, spark, tmp_path, monkeypatch):
        """plans.local._DRIVER_READ_BYTES=0 + no cache: per-batch state reads take the
        predicate-filtered pyarrow tier (exact — the filter is on the
        merge key) and remaps the filtered superset path — pinned against
        ground truth after every batch."""
        self._drain(
            spark, tmp_path, monkeypatch, {(local, "_DRIVER_READ_BYTES"): 0}
        )

    def test_spark_restricted_tier(self, spark, tmp_path, monkeypatch):
        """All driver gates zeroed: state reads take the RESTRICTED
        distributed merge (broadcast closure join below the latest-wins
        groupBy), remaps the Spark mapping path, folds the distributed
        writes — the giant-state stack, pinned against ground truth."""
        self._drain(
            spark, tmp_path, monkeypatch,
            {(local, "_DRIVER_READ_BYTES"): 0, (inc, "_FILTERED_READ_BYTES"): 0},
        )


class TestCompatAndJanitor:
    def test_pre_r10_pointer_resumes(self, spark, tmp_path):
        """Strip the runs/seq keys from a published pointer (what an r9
        writer left behind) — the leveled writer must resume it cleanly."""
        meta = str(tmp_path / "meta")
        acc: dict[str, int] = {}
        for b in range(3):
            cells = [f"{FINE}_{b}_{b}"] * 4
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=0)
            for c in cells:
                acc[c] = acc.get(c, 0) + 1
        p = os.path.join(meta, "LATEST.json")
        with open(p) as fh:
            ptr = json.load(fh)
        for k in ("state_runs", "state_seq", "map_runs", "map_seq"):
            ptr.pop(k, None)
        with open(p, "w") as fh:
            json.dump(ptr, fh)
        assert "state_runs" not in read_pointer(meta)
        for b in range(3, 8):
            cells = [f"{FINE}_{b}_{b}"] * 4
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=2)
            for c in cells:
                acc[c] = acc.get(c, 0) + 1
        assert _maintained(spark, meta) == _ground_truth(acc)
        assert "state_runs" in read_pointer(meta)

    def test_superseded_runs_retire_deferred(self, spark, tmp_path):
        """A run merge supersedes its input runs; they must linger until
        the next apply (deferred janitor) and then be deleted."""
        meta = str(tmp_path / "meta")
        rng = random.Random(9)
        merged_at = None
        prev_runs: list[str] = []
        for b in range(20):
            cells = [
                f"{FINE}_{rng.randint(0, 7)}_{rng.randint(0, 7)}"
                for _ in range(5)
            ]
            _apply(spark, meta, cells, b, fold_every=2, run_merge_k=2)
            ptr = read_pointer(meta)
            cur = [f"run_v{r['v']:09d}" for r in ptr["state_runs"]]
            if prev_runs and not set(prev_runs) <= set(cur):
                # some previous run was superseded this batch: it must
                # still be on disk NOW (deferred) …
                gone = [r for r in prev_runs if r not in cur]
                for r in gone:
                    assert os.path.isdir(os.path.join(meta, "state", r)), (
                        f"run {r} deleted in the same apply at batch {b}"
                    )
                merged_at = (b, gone)
                break
            prev_runs = cur
        assert merged_at is not None, "no run merge observed in 20 batches"
        b, gone = merged_at
        cells = [f"{FINE}_0_0"] * 2
        _apply(spark, meta, cells, b + 1, fold_every=2, run_merge_k=2)
        for r in gone:
            assert not os.path.isdir(os.path.join(meta, "state", r)), (
                f"run {r} not retired by the next apply"
            )
