#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same seed
and add "traced - untraced" for every end-to-end metric to the traced run's
per-layer table (perfbench/out/trace-<workload>-seed<seed>/layers.md).

    python3 perfbench/overhead.py --workload hot_topk --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """The run's info line (second to last line of stdout)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: wrong answers: {lines[-2]}")
    return json.loads(lines[-2])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    rows = {}
    lines = ["", "## Tracing overhead (traced - untraced, same seed)", "",
             "| metric | untraced | traced | traced - untraced | unit |", "|---|---|---|---|---|"]
    for name, m in plain["end_to_end"].items():
        t = traced["end_to_end"][name]["value"]
        rows[name] = {"untraced": m["value"], "traced": t, "diff": t - m["value"], "unit": m["unit"]}
        lines.append(f"| {name} | {m['value']:.6g} | {t:.6g} | {t - m['value']:+.6g} | {m['unit']} |")
    lines += ["", "The traced run calls `analyze` and `term_weights` before `topk`, so its "
              "`topk` finds the term stats cached: query times can read lower when traced.", ""]
    with open(os.path.join(traced["trace_dir"], "layers.md"), "a") as f:
        f.write("\n".join(lines))
    with open(os.path.join(traced["trace_dir"], "overhead.json"), "w") as f:
        json.dump(rows, f, indent=1)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
