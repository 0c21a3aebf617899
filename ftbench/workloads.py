"""Set-up, the two closed loops (`search`, `ingest`) and their metrics.

One process, one client: each call into the engine returns before the next
is made. Every ranked result is checked against the oracle and every build
against the oracle's doc and term counts, outside the timed walls.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

from blacklab_spark import bcql, iceberg, query, streaming
from blacklab_spark.session import get_spark

from .corpus import MARKER0, PAGES_SCHEMA, Pages, word
from .oracle import Oracle, check_counts, check_ranked
from .queries import LOOP_ORDER, POOL_SIZE, SHAPES, Query, fresh_query, pools
from .tracer import RssSampler, Tracer, descendants

BASE_DOCS = 400  # base corpus of every workload
BASE_SHARDS = 2
BATCH_DOCS = 12  # one ingest round's append
BATCH_SHARDS = 1
ROUNDS_PER_COMPACTION = 2
MERGE_FACTOR = 2
INGEST_SHAPES = ("head", "or3")
BUILD_STAGES = ("doc_ids", "docs", "stats", "blocks", "terms", "postings", "manifest")
WORKLOADS = ("search", "ingest")

now = time.perf_counter


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _shape_mean(queries: list[dict], key: str) -> float:
    """Mean over query shapes of each shape's median `key`: every shape of
    the mix weighs the same however many of its queries a run completed."""
    shapes = sorted({q["shape"] for q in queries})
    return float(np.mean([_median(q[key] for q in queries if q["shape"] == s) for s in shapes]))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str, tracer: Tracer):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tr = tracer
        self.tbl_dir = os.path.join(work, "table")
        self.ix_dir = os.path.join(work, "index")
        self.work = work
        self.spark = None
        self.oracle = Oracle()
        self.attempted = 0
        self.failures: list[str] = []
        self.n_queries = 0
        self.loop_queries: list[dict] = []
        self.input_bytes = 0
        # per-operation samples; search fills them once, from its set-up
        self.freshness: list[float] = []
        self.build_rate: list[float] = []  # docs per second of build wall
        self.appends: list[float] = []
        self.deltas: list[float] = []
        self.opens: list[float] = []
        self.build_metas: list[dict] = []
        self.compactions: list[dict] = []

    # ------------------------------------------------------------ checks --
    def _check(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failures.append(f"{what}: {err}")
            print(f"ftbench: FAILED {what}: {err}", file=sys.stderr)

    def _check_segment(self, segment: str) -> None:
        with open(os.path.join(self.ix_dir, "segments", segment, "meta.json")) as f:
            meta = json.load(f)
        self._check(f"build {segment}", check_counts(meta, self.oracle.segment_counts(segment)))

    def _registry(self) -> list[str]:
        with open(os.path.join(self.ix_dir, "segments.json")) as f:
            return json.load(f)["segments"]

    # ------------------------------------------------------------ set-up --
    def setup(self, master: str) -> None:
        """Session, Iceberg create + append, full build, Index open and a
        warm-up pass over the workload's query shapes; timed as setup_s.
        The seeded pages and the oracle are made before the clock starts."""
        tr = self.tr
        base = Pages(self.seed, range(BASE_DOCS))
        frame = base.frame()
        base_ids = self.oracle.add(base)
        self.input_bytes += base.text_bytes
        self.pools = pools(self.oracle, np.random.default_rng([self.seed, 1]))
        shapes = SHAPES if self.workload == "search" else INGEST_SHAPES

        t0 = now()
        with tr.span("setup"):
            with tr.span("session.start"):
                self.spark = get_spark(
                    master,
                    app_name="ftbench",
                    extra_conf={
                        "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                        "spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
                    },
                )
            self.session_s = now() - t0
            self.sc = self.spark.sparkContext
            t1 = now()
            with tr.span("iceberg.append"):
                self.table = iceberg.IcebergTable.create(self.tbl_dir, PAGES_SCHEMA)
                self.table.append(self.spark, self.spark.createDataFrame(frame, PAGES_SCHEMA))
            t2 = now()
            with tr.span("build.index_iceberg"):
                meta = iceberg.index_iceberg(
                    self.spark, self.tbl_dir, self.ix_dir, n_shards=BASE_SHARDS
                )
            t3 = now()
            with tr.span("query.open"):
                self.ix = query.Index(self.spark, self.ix_dir)
            t4 = now()
            self._trace_resolve()
            if self.workload == "search":
                self.appends.append(t2 - t1)
                self.build_rate.append(BASE_DOCS / (t3 - t2))
                self.build_metas.append(meta)
                self.opens.append(t4 - t3)
                self.freshness.append(t4 - t1)
            with tr.span("warmup"):
                for shape in shapes:
                    self.run_query(self.pools[shape][0], loop=False)
        self.setup_s = now() - t0
        self.oracle.register(meta["segment"], base_ids)
        self._check_segment(meta["segment"])

    def _trace_resolve(self) -> None:
        """Traced runs time the eager term-dictionary lookups by wrapping the
        open Index's public resolve methods (topk*/phrase call them)."""
        if not self.tr.enabled:
            return
        for name in ("resolve", "resolve_terms"):
            orig = getattr(self.ix, name)

            def traced(*a, _orig=orig, **kw):
                with self.tr.span("query.resolve"):
                    return _orig(*a, **kw)

            setattr(self.ix, name, traced)

    # ----------------------------------------------------------- queries --
    def run_query(self, q: Query, loop: bool = True) -> list[tuple]:
        tr = self.tr
        self.n_queries += 1
        qid = f"q{self.n_queries}"
        tr.begin_query(self.sc, qid)
        t0 = now()
        with tr.span("query"):
            if q.shape == "bcql" and tr.enabled:
                with tr.span("bcql.parse"):
                    bcql.parse(q.bcql)
            with tr.span("query.plan"):
                df = q.plan(self.ix)
            with tr.span("query.collect"):
                rows = df.collect()
        wall = now() - t0
        rec = {"qid": qid, "shape": q.shape, "wall_s": wall, "segments": len(self.ix.segments)}
        if tr.enabled:
            for key, span in (
                ("plan_s", "query.plan"),
                ("collect_s", "query.collect"),
                ("resolve_s", "query.resolve"),
                ("parse_s", "bcql.parse"),
            ):
                rec[key] = tr.span_sum(span, qid)
        tr.end_query(self.sc, rec)
        if loop:
            self.loop_queries.append(rec)
        got = [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in rows]
        self._check(f"{qid} {q}", check_ranked(got, q.expect(self.oracle)))
        return got

    def search(self) -> None:
        """Closed loop over the seven shapes until --seconds have passed and
        every shape has run at least once."""
        end = now() + self.seconds
        i = 0
        while i < len(LOOP_ORDER) or now() < end:
            shape = LOOP_ORDER[i % len(LOOP_ORDER)]
            self.run_query(self.pools[shape][(i // len(LOOP_ORDER) + 1) % POOL_SIZE])
            i += 1

    # ------------------------------------------------------------ ingest --
    def ingest(self) -> None:
        """Cycles of ROUNDS_PER_COMPACTION rounds and one tiered compaction
        followed by one query of each INGEST_SHAPES, until --seconds have
        passed. A round appends a batch, indexes it as a delta segment,
        reloads and queries the batch's marker word."""
        end = now() + self.seconds
        r = cycle = 0
        while True:
            cycle += 1
            for _ in range(ROUNDS_PER_COMPACTION):
                r += 1
                self._round(r)
            self._compact(r)
            for shape in INGEST_SHAPES:
                self.run_query(self.pools[shape][cycle % POOL_SIZE])
            if now() >= end:
                return

    def _round(self, r: int) -> None:
        tr = self.tr
        lo = BASE_DOCS + (r - 1) * BATCH_DOCS
        pages = Pages(self.seed, range(lo, lo + BATCH_DOCS), marker=MARKER0 + r)
        frame = self.spark.createDataFrame(pages.frame(), PAGES_SCHEMA)
        t0 = now()
        with tr.span("iceberg.append"):
            self.table.append(self.spark, frame)
        t1 = now()
        with tr.span("iceberg.delta_index"):
            meta = iceberg.index_iceberg_delta(
                self.spark, self.tbl_dir, self.ix_dir, n_shards=BATCH_SHARDS
            )
        t2 = now()
        with tr.span("query.open"):
            self.ix.reload()
        t3 = now()
        if meta is None:
            raise RuntimeError(f"round {r}: index_iceberg_delta found no new snapshot")
        self.appends.append(t1 - t0)
        self.deltas.append(t2 - t1)
        self.build_rate.append(BATCH_DOCS / (t2 - t1))
        self.opens.append(t3 - t2)
        self.freshness.append(t3 - t0)
        self.build_metas.append(meta)
        self.input_bytes += pages.text_bytes
        fresh_ids = self.oracle.add(pages)
        self.oracle.register(meta["segment"], fresh_ids)
        self._check_segment(meta["segment"])
        got = self.run_query(fresh_query(word(MARKER0 + r)))
        self._check(
            f"round {r} fresh docs",
            None
            if got and all(doc in fresh_ids for _, doc, _, _ in got)
            else f"marker query returned docs {[d for _, d, _, _ in got]}",
        )

    def _compact(self, r: int) -> None:
        before = self._registry()
        t0 = now()
        with self.tr.span("compact"):
            merges = streaming.tiered_compact(
                self.spark, self.ix_dir, merge_factor=MERGE_FACTOR, tag=str(r)
            )
        wall = now() - t0
        after = self._registry()
        self.compactions.append(
            {"s": wall, "merges": len(merges), "segments_after": len(after)}
        )
        new = [s for s in after if s not in before]
        if not merges:
            return
        if len(new) != 1:
            self._check(f"compaction {r}", f"expected one new segment, got {new}")
            return
        self.oracle.merge(new[0], [s for s in before if s not in after])
        self._check_segment(new[0])

    # ----------------------------------------------------------- metrics --
    def run(self) -> None:
        getattr(self, self.workload)()

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "query_latency_s": _shape_mean(self.loop_queries, "wall_s"),
            "freshness_p50_s": _median(self.freshness),
            "index_bytes_per_input_byte": _dir_bytes(self.ix_dir) / self.input_bytes,
        }

    def per_layer(self, rss: RssSampler) -> dict[str, float]:
        qs = [q for q in self.loop_queries if "jobs" in q]
        out = {
            "session.start_s": self.session_s,
            "mem.peak_rss_mb": rss.peak_mb,
            "mem.python_workers": float(rss.max_workers),
            "spark.jobs_per_query": _shape_mean(qs, "jobs"),
            "spark.stages_per_query": _shape_mean(qs, "stages"),
            "spark.tasks_per_query": _shape_mean(qs, "tasks"),
            "query.open_s": _median(self.opens),
            "query.resolve_s": _median(q["resolve_s"] for q in qs),
            "query.plan_s": _median(q["plan_s"] for q in qs),
            "query.collect_s": _median(q["collect_s"] for q in qs),
            "query.segments": _median(q["segments"] for q in qs),
            "bcql.parse_s": _median(q["parse_s"] for q in qs if q["shape"] == "bcql"),
        }
        for s in (*SHAPES, "fresh"):
            out[f"query.{s}.p50_s"] = _median(q["wall_s"] for q in qs if q["shape"] == s)
            out[f"query.{s}.jobs"] = _median(q["jobs"] for q in qs if q["shape"] == s)
        for st in BUILD_STAGES:
            out[f"build.{st}_s"] = _median(m["stage_s"].get(st, 0.0) for m in self.build_metas)
        out["build.wall_s"] = _median(m["build_wall_s"] for m in self.build_metas)
        out["build.docs_per_s"] = _median(self.build_rate)
        for part in ("docs", "postings", "terms"):
            b = sum(
                _dir_bytes(os.path.join(self.ix_dir, "segments", s, part)) for s in self._registry()
            )
            out[f"index.{part}_bytes_per_input_byte"] = b / self.input_bytes
        out["iceberg.append_s"] = _median(self.appends)
        out["iceberg.delta_index_s"] = _median(self.deltas)
        out["compact.s"] = _median(c["s"] for c in self.compactions)
        out["compact.merges"] = _median(c["merges"] for c in self.compactions)
        out["compact.segments_after"] = (
            float(self.compactions[-1]["segments_after"])
            if self.compactions
            else float(len(self._registry()))
        )
        out["trace.overhead_s"] = self.tr.overhead_s / max(1, len(self.tr.queries))
        out["trace.query_latency_s"] = _shape_mean(qs, "wall_s")
        return out

    # ---------------------------------------------------------- shutdown --
    def close(self) -> None:
        """Stop Spark, end the JVM and wait until every process this run
        started (the JVM, Spark's Python daemon and workers) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            _wait_gone(kids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    end = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < end + 10:
        time.sleep(0.1)
