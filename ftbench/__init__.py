"""Benchmark of the blacklab_spark engine: seeded workloads, oracle-checked results,
end-to-end and per-layer metrics. Entry point: ftbench/run.py."""
