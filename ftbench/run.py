"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 ftbench/run.py --workload search|ingest --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1` (which also writes
its spans to `.ftbench_out/`). Everything the run writes (Iceberg table,
index, Spark local and temp dirs, warehouse) lives under a fresh directory in
`.ftbench_work/`, removed at exit. A run that cannot complete prints the
error on stderr, no result line, and exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "blacklab_spark", "__init__.py")):
        print(f"ftbench: no blacklab_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".ftbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # Spark's JVM and its Python workers inherit these: workers import the
    # engine from this checkout, and scratch files stay inside the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    sys.path.insert(0, ROOT)

    bench = None
    try:
        from ftbench.selftest import run_selftest
        from ftbench.tracer import RssSampler, Tracer
        from ftbench.workloads import Bench

        problems = run_selftest(args.seed)
        if problems:
            raise RuntimeError("result gate self-test failed: " + "; ".join(problems))
        tracer = Tracer(args.trace == 1)
        bench = Bench(args.workload, args.seed, args.seconds, work, tracer)
        cpus = min(4, len(os.sched_getaffinity(0)))
        with RssSampler() as rss:
            bench.setup(f"local[{cpus}]")
            bench.run()
        if args.trace:
            metrics = bench.per_layer(rss)
            units = _units("per_layer")
            tracer.dump(
                os.path.join(ROOT, ".ftbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "per_layer": metrics},
            )
        else:
            metrics = bench.end_to_end()
            units = _units("end_to_end")
        result = {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still has its directory there
    print(json.dumps(result))
    return 0


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
