#!/usr/bin/env python3
"""Run the benchmark repeatedly and report how steady each metric is.

    python3 perfbench/steadiness.py --workloads cdc_replay,corpus_queries \
        --seeds 1-10 [--sets 2] [--trace 0] [--out perfbench/results/x.json]

For every workload, set and metric it prints the median, the quartiles
(``statistics.quantiles(n=4)``) and the inter-quartile spread as a
share of the median, next to the metric's bound from BENCHMARK.json;
with two sets it also prints how far the second median moved from the
first.  Set k uses seeds offset by 1000·k, so no two runs share inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["run_s"] = wall
    return out


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(q2) if q2 else float("inf"),
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report: dict = {"seconds": seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads.split(","):
        sets = []
        for k in range(args.sets):
            runs = [run_once(w, 1000 * k + s, seconds, args.trace) for s in _seeds(args.seeds)]
            bad = [r for r in runs if not r["correct"] or r["failed"]]
            metrics = {
                n: summarize([r["metrics"][n]["value"] for r in runs])
                for n in runs[0]["metrics"]
            }
            sets.append({
                "runs": len(runs), "failed_runs": len(bad),
                "attempted": sum(r["attempted"] for r in runs),
                "failed": sum(r["failed"] for r in runs),
                "run_s": summarize([r["run_s"] for r in runs]),
                "metrics": metrics,
            })
            print(f"{w} set {k}: {len(runs)} runs, {len(bad)} failed, "
                  f"run_s median {sets[-1]['run_s']['median']:.1f}", flush=True)
            for n, m in metrics.items():
                b = bounds.get(n)
                line = (f"  {n:32s} median {m['median']:12.6g}  q1 {m['q1']:12.6g}  "
                        f"q3 {m['q3']:12.6g}  spread {m['spread']:.3f}")
                if b is not None:
                    line += f"  bound {b}"
                if k:
                    first = sets[0]["metrics"][n]["median"]
                    line += f"  drift {(m['median'] - first) / abs(first) if first else 0:+.3f}"
                print(line, flush=True)
            report["workloads"][w] = sets
            if args.out:  # after every set, so a cut-short session keeps its data
                with open(args.out, "w") as fh:
                    json.dump(report, fh, indent=1)
                    fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
