#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds, one fresh process
each, and report every end-to-end metric's median and quartile spread
((Q3 - Q1) / median, quartiles as `statistics.quantiles(values, n=4)`).

    python3 perfbench/steady.py --workload code_search --seeds 1-10 --seconds 10 \\
        --out perfbench/out/steady-code_search.json
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


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900, check=True)
        lines = proc.stdout.strip().splitlines()
        result, info = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": time.time() - t0, "correct": result["correct"],
                     "attempted": result["attempted"], "failed": result["failed"],
                     "queries_timed": info["queries_timed"], "rounds": info["rounds"],
                     "host_probe_s": info["host_probe_s"],
                     **{k: v["value"] for k, v in result["metrics"].items()},
                     "latencies_s": info["latencies_s"]})
        print(json.dumps(runs[-1]), flush=True)
    metrics = [k for k in runs[0] if k not in ("seed", "wall_s", "correct", "attempted",
                                               "failed", "queries_timed", "rounds",
                                               "host_probe_s", "latencies_s")]
    summary = {m: spread([r[m] for r in runs]) for m in metrics}
    with open(args.out, "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds, "runs": runs,
                   "summary": summary}, f, indent=1)
    for m, s in summary.items():
        print(f"{m:32s} median {s['median']:12.6g}  spread {s['spread']:.4f}")
    print(f"wall per run: {statistics.mean(r['wall_s'] for r in runs):.1f} s; "
          f"all correct: {all(r['correct'] for r in runs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
