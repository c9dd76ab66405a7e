#!/usr/bin/env python3
"""Check that a traced run's Spark counts repeat.

Runs ``run.py --trace 1`` twice per workload at one seed and compares the
spans of the two runs call by call (the n-th call of a layer in a phase
against the n-th of the other run; a measured phase may hold more rounds in
one run than in the other, so only the calls both runs made are compared):

    python3 perfbench/repeat_counts.py --seed 1 --seconds 10

Prints, per workload and counter, the number of calls compared and the calls
whose counts differ, then one JSON line with the same. Exits 1 when job or
task counts differ; stage counts are reported but not judged, because
adaptive query execution may skip or add stages from run to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ("jobs", "tasks", "stages")
JUDGED = ("jobs", "tasks")


def traced_spans(workload: str, seed: int, seconds: str, tag: str) -> list[dict]:
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                    "--workload", workload, "--seed", str(seed), "--seconds", seconds,
                    "--trace", "1"], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    out = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl")
    kept = out.replace(".jsonl", f"-{tag}.jsonl")
    shutil.move(out, kept)
    with open(kept) as fh:
        return [json.loads(line) for line in fh]


def by_call(spans: list[dict]) -> dict[tuple, dict]:
    seen: dict[tuple, int] = {}
    out = {}
    for s in spans:
        key = (s["phase"], s["name"], s["parent"])
        seen[key] = seen.get(key, 0) + 1
        out[key + (seen[key],)] = s
    return out


def compare(a: list[dict], b: list[dict]) -> dict:
    ca, cb = by_call(a), by_call(b)
    common = sorted(set(ca) & set(cb), key=str)
    result = {"calls": len(common)}
    for c in COUNTERS:
        result[c] = [{"call": list(k), "a": ca[k][c], "b": cb[k][c]}
                     for k in common if ca[k][c] != cb[k][c]]
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--workloads", default="grid_serve_ingest,pipeline_mix")
    args = ap.parse_args()
    report = {}
    for w in args.workloads.split(","):
        a = traced_spans(w, args.seed, args.seconds, "a")
        b = traced_spans(w, args.seed, args.seconds, "b")
        report[w] = compare(a, b)
        print(w, "calls compared:", report[w]["calls"],
              {c: len(report[w][c]) for c in COUNTERS}, flush=True)
    print(json.dumps(report))
    return 1 if any(report[w][c] for w in report for c in JUDGED) else 0


if __name__ == "__main__":
    sys.exit(main())
