"""Per-stage build profile at one parallelism level — where does the flat
(non-scaling) time go? Prints one JSON line: the best build's wall and
stage_s, and the Spark jobs (one StatusTracker job group per operation) of
that build, of one 12-page add_segment (n_shards=1, its own stage_s next to
it), and of opening the index (Index(...)) and reloading it (reload()).
Next to those stage walls it prints the in-process wall of the blocks
stage's encode kernel (_encode_shard_kernel, no Spark; best of 3) on the
delta's doc rows and on base shard 0's, for both codecs — the kernel's
share of the `blocks` stage, apart from Spark's per-stage floor.

usage: python scripts/profile_build.py <cpus> [n_docs] [n_shards]
(corpus parquet is generated once under /dev/shm and reused;
`python scripts/profile_build.py 4 400 2` is the benchmark's set-up build)
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from blacklab_spark.session import get_spark  # noqa: E402

CPUS = sys.argv[1] if len(sys.argv) > 1 else "32"
N_DOCS = int(sys.argv[2]) if len(sys.argv) > 2 else 400_000
N_SHARDS = int(sys.argv[3]) if len(sys.argv) > 3 else 128
DELTA_DOCS = 12
WORK = "/dev/shm/blacklab_profile"
PAGES = f"{WORK}/pages_{N_DOCS}"

_groups = itertools.count()


def timed_jobs(spark, fn):
    """(Spark jobs run by fn(), wall seconds, fn's result), counted by job group."""
    sc = spark.sparkContext
    gid = f"profile-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    t0 = time.time()
    try:
        out = fn()
    finally:
        sc.setJobGroup("profile-idle", "between profiled operations")
    wall = round(time.time() - t0, 3)
    return len(sc.statusTracker().getJobIdsForGroup(gid)), wall, out


def kernel_walls(docs_dir: str, shard: int | None = None) -> dict:
    """In-process walls of the encode kernel over one segment's doc rows
    (or one shard's), per codec: best of 3, seconds."""
    import pyarrow.dataset as pads

    from blacklab_spark.build import DEFAULT_BLOCK, _encode_shard_kernel

    table = pads.dataset(docs_dir, format="parquet").to_table(
        columns=["shard", "doc_id", "doc_len", "tokens"],
        filter=None if shard is None else pads.field("shard") == shard,
    )
    batches = table.to_batches()
    out = {"docs": table.num_rows}
    for codec in ("pfor", "varint"):
        kernel = _encode_shard_kernel(DEFAULT_BLOCK, codec=codec)
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            out["rows"] = sum(b.num_rows for b in kernel(iter(batches)))
            walls.append(time.perf_counter() - t0)
        out[f"{codec}_s"] = round(min(walls), 4)
    return out


def main() -> None:
    os.makedirs(WORK, exist_ok=True)
    if not os.path.exists(f"{PAGES}/_SUCCESS"):
        from blacklab_spark.fixtures import pages_df

        spark = get_spark(f"local[{CPUS}]", app_name="gen_profile_pages")
        pages_df(spark, "bench", N_DOCS).write.mode("overwrite").parquet(PAGES)
        spark.stop()

    spark = get_spark(
        f"local[{CPUS}]",
        app_name=f"profile_{CPUS}",
        shuffle_partitions=128,
        extra_conf={
            "spark.local.dir": f"{WORK}/spark_local",
            "spark.driver.memory": "32g",
        },
    )
    import numpy as np

    from blacklab_spark.build import add_segment, build_index
    from blacklab_spark.fixtures import PAGES_SCHEMA, gen_pages_pdf
    from blacklab_spark.query import Index

    pages = spark.read.parquet(PAGES)
    pages.limit(100).count()  # warm scheduler
    out = f"{WORK}/ix_prof_{CPUS}"
    best = None
    for rep in range(int(os.environ.get("PROFILE_REPS", "2"))):
        shutil.rmtree(out, ignore_errors=True)
        jobs, wall, meta = timed_jobs(
            spark, lambda: build_index(spark, pages, out, n_shards=N_SHARDS)
        )
        if best is None or wall < best["wall_s"]:
            best = {"wall_s": wall, "stage_s": meta["stage_s"], "jobs": jobs}
    n_open, open_s, ix = timed_jobs(spark, lambda: Index(spark, out))
    delta = spark.createDataFrame(
        gen_pages_pdf(np.arange(N_DOCS, N_DOCS + DELTA_DOCS), "bench"), PAGES_SCHEMA
    )
    n_delta, delta_s, dmeta = timed_jobs(
        spark, lambda: add_segment(spark, delta, out, "delta", n_shards=1)
    )
    n_reload, reload_s, _ = timed_jobs(spark, ix.reload)
    kernel = {
        "delta": kernel_walls(f"{out}/segments/delta/docs"),
        "shard0": kernel_walls(f"{out}/segments/seg0/docs", shard=0),
    }
    print(json.dumps({
        "cpus": CPUS, "n_docs": N_DOCS, "n_shards": N_SHARDS, **best,
        "delta": {"docs": DELTA_DOCS, "jobs": n_delta, "wall_s": delta_s,
                  "stage_s": dmeta["stage_s"]},
        "open": {"jobs": n_open, "wall_s": open_s},
        "reload": {"jobs": n_reload, "wall_s": reload_s, "segments": len(ix.segments)},
        "kernel": kernel,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
