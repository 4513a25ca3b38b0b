"""Set-up and the closed-loop workloads (one caller each).

Every timed operation is recorded as an ``Op`` with its latency, its rows
and any error; the checks in ``checks.py`` run over the ops afterwards.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.index import build_index
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.index.reader import IndexReader
from elasticsearch_spark.query.executor import search_topk
from elasticsearch_spark.query.msearch import msearch_topk
from elasticsearch_spark.session import get_spark
from perfbench import inputs
from perfbench.procmon import cpu_ticks
from perfbench.trace import Tracer, dir_bytes

MSEARCH_BATCH = 25  # queries per msearch_topk call
# Spark job execution warms up over the first few msearch calls of a process
# (25-query calls: ~1.6-2.1 s for the first four, then ~1.3-1.4 s), and
# filtered searches speed up with it (~270 -> ~225 ms); set-up runs these
# calls so the timed loop starts nearly warm
MSEARCH_WARMUP = 3
MERGE_THRESHOLD = 10  # incremental_index's default: merge past 10 active segments
SEARCHES_PER_REFRESH = 2  # reads per refresh: match_mean_ms averages 6 per run
# With 4 segments per batch on a 4-segment base the merge fires on refresh
# 2 (12 -> 2 active), then every 3rd (6, 10, 14 -> merge). Refresh 1 is set-up
# warm-up; the loop stops only after refresh 4, 7, 10, ...: whole cycles of
# one merging and two plain refreshes, so every run holds the same mix.
REFRESH_CYCLE = 3


@dataclass
class Op:
    kind: str  # match | filtered | msearch | refresh
    seconds: float
    rows: list | None = None  # [(conv_id, turn_idx, score)]; msearch: {qid: rows}
    queries: list = field(default_factory=list)
    error: str | None = None
    segments: int = 0
    merged: bool = False
    batch: object = None
    turns: int = 0
    busy: int = 0  # guest CPU jiffies over the operation (all CPUs)
    steal: int = 0  # jiffies the hypervisor gave to other guests meanwhile

    def ticks(self, before: tuple[int, int]) -> "Op":
        after = cpu_ticks()
        self.busy, self.steal = after[0] - before[0], after[1] - before[1]
        return self


def index_config(nproc: int) -> IndexConfig:
    return IndexConfig(stored_cols=("role", "tool", "ts"), dedup_latest_by="ts",
                       n_partitions=nproc)


def filter_column(filters: dict):
    cond = None
    for col, val in filters.items():
        if col == "ts_min":
            c = F.col("ts") >= F.lit(val.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp")
        else:
            c = F.col(col) == F.lit(val)
        cond = c if cond is None else cond & c
    return cond


def segment_count(index_dir: str) -> int:
    return sum(1 for d in os.listdir(os.path.join(index_dir, "postings"))
               if d.startswith("segment_id="))


def tuples(rows) -> list:
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in rows]


def _fail(e: BaseException) -> str:
    traceback.print_exc()
    return f"{type(e).__name__}: {e}"


class Bench:
    """One process's Spark session, base index and timed loops."""

    def __init__(self, tracer: Tracer, work_dir: str, nproc: int, app_name: str) -> None:
        self.tracer = tracer
        self.work = work_dir
        self.nproc = nproc
        self.app_name = app_name
        self.cfg = index_config(nproc)
        self.index_dir = os.path.join(work_dir, "index")
        self.spark = None
        self.reader = None

    # -- set-up ------------------------------------------------------------

    def setup(self, corpus, workload: str, first_batch=None) -> dict:
        """Session, input DataFrame, cold build, reader, fixed warm-up.

        ``first_batch``: ingest_refresh lands it as part of the warm-up, so
        the one-off cold cost of the first NRT refresh stays out of the
        loop; its Op is returned under "warmup_refresh" for checking."""
        tr = self.tracer
        out = {}
        t = time.perf_counter()
        with tr.span("session.start"):
            self.spark = get_spark(cores=self.nproc, shuffle_partitions=self.nproc,
                                   app_name=self.app_name)
        self.spark.sparkContext.setLogLevel("ERROR")
        tr.sc = self.spark.sparkContext
        out["session_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("setup.input_df"):
            df = self.spark.createDataFrame(corpus)
        out["input_df_s"] = time.perf_counter() - t
        k = cpu_ticks()
        t = time.perf_counter()
        with tr.span("builder.build", jobs=True) as rec:
            build_index(self.spark, df, self.index_dir, self.cfg)
        out["build_s"] = time.perf_counter() - t
        k2 = cpu_ticks()
        out["build_busy"], out["build_steal"] = k2[0] - k[0], k2[1] - k[1]
        if tr.enabled:
            rec["bytes_written"] = dir_bytes(self.index_dir)
        self.reader = IndexReader(self.spark, self.index_dir)
        t = time.perf_counter()
        with tr.span("setup.warmup"):
            for q in inputs.warmup_queries(corpus):
                search_topk(self.reader, filter_cond=filter_column(q.filters),
                            **q.engine_kwargs()).collect()
            if workload == "search_interactive":  # its msearch phase too
                batch = inputs.warmup_queries(corpus, MSEARCH_WARMUP * MSEARCH_BATCH)
                for i in range(0, len(batch), MSEARCH_BATCH):
                    specs = [self._spec(q) for q in batch[i : i + MSEARCH_BATCH]]
                    msearch_topk(self.reader, specs).collect()
            if first_batch is not None:
                out["warmup_refresh"] = self.refresh(
                    first_batch, self.spark.createDataFrame(first_batch.frame))
        out["warmup_s"] = time.perf_counter() - t
        return out

    @staticmethod
    def _spec(q: inputs.Query) -> dict:
        return {**q.engine_kwargs(), "filter_cond": filter_column(q.filters)}

    # -- one timed search (search_interactive, and reads in ingest_refresh) --

    def search(self, q: inputs.Query) -> Op:
        tr = self.tracer
        cond = filter_column(q.filters)
        err = rows = None
        k = cpu_ticks()
        with tr.op(f"q{q.qid}"):
            t0 = time.perf_counter()
            try:
                with tr.span("executor.search", jobs=True, io=True) as rec:
                    rec["filtered"] = q.filtered
                    df = search_topk(self.reader, filter_cond=cond, **q.engine_kwargs())
                with tr.span("executor.materialize", jobs=True) as rec:
                    rows = df.collect()
                    rec["rows"] = len(rows)
            except Exception as e:  # counted as a failed operation
                err = _fail(e)
            dt = time.perf_counter() - t0
        return Op(q.cls, dt, None if rows is None else tuples(rows), [q], err).ticks(k)

    def run_interactive(self, queries, seconds: float) -> list[Op]:
        segs = segment_count(self.index_dir)
        ops, end = [], time.perf_counter() + seconds
        for q in queries:
            if time.perf_counter() >= end:
                break
            op = self.search(q)
            op.segments = segs
            ops.append(op)
        return ops

    # -- msearch phase of search_interactive (the batch runner) -------------

    def msearch(self, batch: list) -> Op:
        tr = self.tracer
        specs = [self._spec(q) for q in batch]
        err = res = None
        k = cpu_ticks()
        with tr.op(f"m{batch[0].qid}"):
            t0 = time.perf_counter()
            try:
                with tr.span("msearch.call", jobs=True):
                    df = msearch_topk(self.reader, specs)
                with tr.span("msearch.materialize", jobs=True):
                    rows = df.collect()
            except Exception as e:
                err = _fail(e)
            dt = time.perf_counter() - t0
        if err is None:
            res = {i: [] for i in range(len(batch))}
            for r in rows:
                res[int(r["query_id"])].append(
                    (r["conv_id"], int(r["turn_idx"]), float(r["score"])))
        return Op("msearch", dt, res, list(batch), err).ticks(k)

    def run_batch(self, queries, seconds: float) -> list[Op]:
        segs = segment_count(self.index_dir)
        ops, end = [], time.perf_counter() + seconds
        for i in range(0, len(queries) - MSEARCH_BATCH + 1, MSEARCH_BATCH):
            if time.perf_counter() >= end:
                break
            op = self.msearch(queries[i : i + MSEARCH_BATCH])
            op.segments = segs
            ops.append(op)
        return ops

    # -- ingest_refresh ----------------------------------------------------

    def _active_segments(self) -> int:
        """Active-segment count exactly as incremental_index's batch handler
        computes it before deciding to merge."""
        man = self.spark.read.parquet(os.path.join(self.index_dir, "manifest"))
        superseded = {
            r["segment_id"]
            for r in man.where(F.col("status") == "superseded")
            .select("segment_id").distinct().collect()
        }
        return (
            man.where(F.col("status") == "committed")
            .select("segment_id").distinct().count()
        ) - len(superseded)

    def refresh(self, batch: inputs.Batch, batch_df) -> Op:
        """Land one micro-batch through the NRT path, merge when the handler
        would, reopen the reader and query the batch's marker."""
        tr = self.tracer
        err = rows = None
        merged = False
        k = cpu_ticks()
        with tr.op(f"r{batch.index}"):
            t0 = time.perf_counter()
            try:
                with tr.span("incremental.batch", jobs=True):
                    batch_df.count()  # the handler's empty-batch check
                    with tr.span("builder.build", jobs=True) as rec:
                        before = dir_bytes(self.index_dir) if tr.enabled else 0
                        build_index(self.spark, batch_df, self.index_dir, self.cfg,
                                    segment_prefix=f"b{batch.index:06d}-")
                        if tr.enabled:
                            rec["bytes_written"] = dir_bytes(self.index_dir) - before
                    if self._active_segments() > MERGE_THRESHOLD:
                        merged = True
                        with tr.span("merge.tiered", jobs=True):
                            tiered_merge(self.spark, self.index_dir, repack=False)
                reader = IndexReader(self.spark, self.index_dir)
                with tr.span("executor.search", jobs=True, io=True):
                    df = search_topk(reader, batch.marker, k=len(batch.marker_keys) + 5)
                with tr.span("executor.materialize", jobs=True) as rec:
                    rows = df.collect()
                    rec["rows"] = len(rows)
            except Exception as e:
                err = _fail(e)
                reader = None
            dt = time.perf_counter() - t0
        self.reader = reader or self.reader
        return Op("refresh", dt, None if rows is None else tuples(rows), [], err,
                  merged=merged, batch=batch, turns=len(batch.frame)).ticks(k)

    def run_ingest(self, seed: int, queries, seconds: float, batch_turns: int,
                   first_batch: int, after_ts, min_refreshes: int):
        """Refresh + searches until ``seconds`` pass and the cycle is whole.

        The reads are unfiltered OR queries holding a hot term, k = 10: every
        one reaches the postings of the layout just refreshed (an absent-term
        query would return before touching it), and its top 10 always holds
        merged docs. A k = 1 read whose one hit sits in a fresh segment is
        answered by the driver-local runner in ~0.1 s instead of ~1.1 s, and
        one such read in six moved a run's mean by ~15%. Returns (ops, batches)."""
        reads = iter(q for q in queries
                     if not q.filtered and q.operator == "or" and q.has_hot and q.k == 10)
        ops, batches = [], []
        t_start = time.perf_counter()
        i = first_batch
        while True:
            n = len(batches)
            if (n >= min_refreshes and (first_batch + n) % REFRESH_CYCLE == 1
                    and time.perf_counter() - t_start >= seconds):
                break
            batch = inputs.ingest_batch(seed, i, batch_turns, after_ts)
            after_ts = batch.frame["ts"].max()
            batch_df = self.spark.createDataFrame(batch.frame)
            op = self.refresh(batch, batch_df)
            op.segments = segment_count(self.index_dir)
            ops.append(op)
            batches.append(batch)
            for _ in range(SEARCHES_PER_REFRESH):
                sop = self.search(next(reads))
                sop.segments = op.segments
                ops.append(sop)
            i += 1
        return ops, batches

    # -- end of run --------------------------------------------------------

    def index_bytes(self) -> int:
        return dir_bytes(self.index_dir)
