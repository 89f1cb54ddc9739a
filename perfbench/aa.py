#!/usr/bin/env python3
"""A/A check: run the same code several times per workload and seed, in
two sets, and report each end-to-end metric's median, quartiles and
spread per set, and the drift between the two sets' medians.

    python3 perfbench/aa.py --seeds 1-10 --sets 2 --out aa.json

Spread is (q3 - q1) / median over one set's runs, with the quartiles of
``statistics.quantiles(values, n=4)``. Drift is how much worse the second
set's median is than the first's, as a share of the first. A metric holds
when its spread (``setup_s`` excepted) and its drift are within its bound
in BENCHMARK.json. Sets alternate per seed so that a change in host load
reaches both. The output file is rewritten after every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "exit": p.returncode, "wall_s": time.time() - t0}
    if p.returncode != 0 or not lines:
        rec["stderr_tail"] = p.stderr[-2000:]
        return rec
    rec.update(json.loads(lines[-1]))
    stamp = next((json.loads(ln)["stamp"] for ln in lines if ln.startswith('{"stamp"')), {})
    rec["stamp"] = {k: stamp.get(k) for k in ("host_other_busy_frac", "host_loadavg_1m", "warmup",
                                                 "prep_s", "run_s", "unrecorded_hashes", "window")}
    return rec


def summarize(runs: list[dict], bench: dict) -> dict:
    better = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    out: dict = {}
    for w in sorted({r["workload"] for r in runs}):
        out[w] = {}
        for name, (direction, bound) in better.items():
            per_set = {}
            for s in sorted({r["set"] for r in runs}):
                vals = [r["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s and "metrics" in r]
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                per_set[str(s)] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                                   "spread": (q3 - q1) / med}
            row = {"bound": bound, "sets": per_set}
            if len(per_set) == 2:
                a, b = (per_set[k]["median"] for k in sorted(per_set))
                row["drift_worse"] = (b - a) / a if direction == "lower" else (a - b) / a
            out[w][name] = row
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="A/A runs of the benchmark.")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs: list[dict] = []
    for seed in _seeds(a.seeds):
        for s in range(1, a.sets + 1):
            for w in workloads:
                rec = run_once(w, seed, bench["run_seconds"])
                rec["set"] = s
                runs.append(rec)
                print(json.dumps({k: rec.get(k) for k in ("set", "workload", "seed", "exit",
                                                           "correct", "failed", "wall_s")}),
                      flush=True)
                with open(a.out, "w") as f:
                    json.dump({"run_seconds": bench["run_seconds"], "workloads": workloads,
                               "summary": summarize(runs, bench), "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
