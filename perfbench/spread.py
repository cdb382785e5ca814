#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload code_filter --seeds 1-10 --seconds 12

Runs ``run.py --trace 0`` once per seed, one after another, and prints
for each end-to-end metric its median and its spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``)
as a share of the median, next to the metric's bound in
``BENCHMARK.json``. The undeclared wall time per operation (``op_s``)
is summarized the same way. The per-run values go to
``perfbench/.work/spread/<workload>_<seeds>.json``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, cwd=ROOT,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        op_s = next(float(x.split()[2]) for x in lines if x.split()[1:2] == ["op_s"])
        runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"], "op_s": op_s,
                     **{k: v["value"] for k, v in res["metrics"].items()}})
        print(f"seed {seed}: wall {wall:.1f} s, correct {res['correct']}, "
              + ", ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items())
              + f", op_s {op_s:.4g}",
              flush=True)

    summary = {}
    for name, bound in {**bounds, "op_s": None}.items():
        values = [r[name] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        summary[name] = {"median": med, "spread": (q3 - q1) / med, "bound": bound}
        print(f"{name}: median {med:.4g}, spread {(q3 - q1) / med:.3f} "
              + (f"(bound {bound})" if bound else "(not declared)"))
    out = os.path.join(HERE, ".work", "spread")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}_{args.seeds}.json"), "w") as f:
        json.dump({"workload": args.workload, "seconds": args.seconds, "runs": runs,
                   "summary": summary}, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
