"""Run the benchmark over several seeds and report each metric's spread.

    python3 ftbench/steady.py --workload search --seeds 1-10 [--trace 0|1]

For every metric: the median over the runs, the first and third quartile
(`statistics.quantiles(values, n=4)`), and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. The spread must stay below a
third of the bound for the benchmark to count as steady. All values go to
`.ftbench_out/steady-<workload>-<trace>.json`.
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
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "ftbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.time() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", file=sys.stderr)
    os.makedirs(os.path.join(ROOT, ".ftbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".ftbench_out", f"steady-{args.workload}-{args.trace}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    print(f"| metric | median | Q1 | Q3 | spread | bound/3 |  ({args.workload}, {len(runs)} runs, "
          f"run wall median {statistics.median(r['wall_s'] for r in runs):.0f} s)")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        print(f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | "
              f"{'' if b is None else f'{b / 3:.3f}'} |")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
