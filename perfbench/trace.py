"""Tracing from outside the program: spans, wrappers and Spark stage metrics.

Spans are opened by the benchmark around its calls into the package, and by
wrappers installed (traced runs only) over the public names that consuming
modules bind — e.g. ``query.executor`` binds ``unpack_u32``, so the wrapper
replaces ``executor.unpack_u32``. Each span records name, start, end, driver
thread CPU, parent span and request id, and is held in memory until the run
ends. Spans that may launch Spark jobs tag them with ``setJobGroup``; the
jobs' stage metrics are read back from Spark's REST API when the run ends.

Very hot leaf calls (tokenize, unpack) are not full spans: their time and
counts are accumulated on the innermost open span, which keeps the per-call
cost to two clock reads.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager, nullcontext
from datetime import datetime, timezone

from perfbench.procmon import read_chars

# |layers' self time / untraced wall - 1| allowed. search_interactive pairs
# every traced operation with an untraced twin; ingest_refresh cannot re-issue
# a refresh, so it compares against the previous merge cycle, whose index is
# smaller and whose merge groups differ
TRACE_TOLERANCE = {"search_interactive": 0.15, "ingest_refresh": 0.25}


class Tracer:
    """In-memory span recorder. Disabled, every hook is a pass-through."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.sc = None  # set once the SparkContext exists
        self.phase = "setup"
        self.spans: list[dict] = []
        self.counters: dict[str, int] = {}
        self._stack: list[dict] = []
        self._next = 1
        self._req = None

    def span(self, name: str, jobs: bool = False, io: bool = False):
        if not self.enabled:
            return nullcontext({})
        return self._span(name, jobs, io)

    @contextmanager
    def _span(self, name: str, jobs: bool, io: bool):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next, "name": name, "parent": parent and parent["id"],
            "req": self._req, "phase": self.phase, "jobs": jobs and self.sc is not None,
            "leaf": {},
        }
        self._next += 1
        self._stack.append(rec)
        if rec["jobs"]:
            self.sc.setJobGroup(f"s{rec['id']}", name)
        if io:
            rec["io0"] = read_chars()
        rec["c0"] = time.thread_time()
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["c1"] = time.thread_time()
            if io:
                rec["io1"] = read_chars()
            self._stack.pop()
            if rec["jobs"]:
                outer = next((s for s in reversed(self._stack) if s["jobs"]), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"s{outer['id']}", outer["name"])
            self.spans.append(rec)

    @contextmanager
    def op(self, req: str):
        """Root span of one timed operation; its descendants share ``req``."""
        if not self.enabled:
            yield {}
            return
        self._req = req
        try:
            with self._span("bench.op", False, False) as rec:
                yield rec
        finally:
            self._req = None

    def leaf(self, name: str, seconds: float, values: int = 0) -> None:
        if not self._stack:
            return
        acc = self._stack[-1]["leaf"].setdefault(name, [0.0, 0, 0])
        acc[0] += seconds
        acc[1] += 1
        acc[2] += values

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled and self.phase == "loop":
            self.counters[name] = self.counters.get(name, 0) + n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# -- wrappers over the names consuming modules bind -------------------------


def _span_wrapper(tracer, name, fn, jobs=False, after=None):
    @functools.wraps(fn)
    def wrapped(*a, **kw):
        if not tracer.enabled:
            return fn(*a, **kw)
        with tracer.span(name, jobs=jobs) as rec:
            out = fn(*a, **kw)
            if after is not None:
                after(rec, a, kw, out)
            return out

    return wrapped


def _leaf_wrapper(tracer, name, fn, values=None):
    @functools.wraps(fn)
    def wrapped(*a, **kw):
        if not tracer.enabled:
            return fn(*a, **kw)
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        tracer.leaf(name, time.perf_counter() - t0, values(a, kw) if values else 0)
        return out

    return wrapped


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries for the rest of this process."""
    from elasticsearch_spark.index import builder, deletes, merge
    from elasticsearch_spark.index.reader import IndexReader
    from elasticsearch_spark.query import executor, msearch

    leaf_patches = [
        (executor, "tokenize_text", "analysis.tokenize", None),
        (msearch, "tokenize_text", "analysis.tokenize", None),
        (executor, "unpack_u32", "codec.unpack", lambda a, kw: int(a[1])),
    ]
    for mod, attr, name, values in leaf_patches:
        setattr(mod, attr, _leaf_wrapper(tracer, name, getattr(mod, attr), values))

    last_layout: dict[str, int] = {}

    def layout_miss(key):
        def after(rec, a, kw, out):
            k = key(a)
            if out is not None and last_layout.get(k) != id(out):
                last_layout[k] = id(out)
                tracer.count("reader.layout_cache_misses")

        return after

    def merged_bytes(rec, a, kw, out):
        index_dir, name = a[1], a[3]
        rec["bytes_written"] = sum(
            dir_bytes(os.path.join(index_dir, sub, f"segment_id={name}"))
            for sub in ("postings", "docs", "norms", "segterms", "deletes")
        )

    span_patches = [
        (IndexReader, "__init__", "reader.open", False, None),
        (IndexReader, "query_term_stats", "reader.term_stats", False, None),
        (IndexReader, "local_dataset", "reader.local_dataset", False,
         layout_miss(lambda a: f"{id(a[0])}:{a[1]}")),
        (IndexReader, "local_norms", "reader.local_norms", False,
         layout_miss(lambda a: f"{id(a[0])}:norms")),
        (deletes, "deletes_map", "deletes.map", False, None),
        (builder, "_write_global_stats", "builder.termstats", True, None),
        (merge, "merge_segments", "merge.segments", True, merged_bytes),
    ]
    for owner, attr, name, jobs, after in span_patches:
        setattr(owner, attr, _span_wrapper(tracer, name, getattr(owner, attr), jobs, after))

    # counters only: searches reaching the scatter/gather pipeline, and those
    # the driver-local runner answered
    execute, local = executor._execute, executor._local_search

    @functools.wraps(execute)
    def execute_counted(*a, **kw):
        tracer.count("executor.execute_calls")
        return execute(*a, **kw)

    @functools.wraps(local)
    def local_counted(*a, **kw):
        out = local(*a, **kw)
        if out is not None:
            tracer.count("executor.local_runner_used")
        return out

    executor._execute, executor._local_search = execute_counted, local_counted


# -- Spark REST API (UI on in traced runs only) -----------------------------


def _ts(s: str | None) -> float:
    if not s:
        return 0.0
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class SparkRest:
    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1].strip("/")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def settle(self, timeout: float = 20.0) -> list[dict]:
        """Jobs list once the listener bus has caught up (no job running,
        count stable across two polls)."""
        deadline, prev = time.monotonic() + timeout, None
        while True:
            jobs = self.get("/jobs")
            done = all(j["status"] != "RUNNING" for j in jobs)
            if (done and prev == len(jobs)) or time.monotonic() > deadline:
                return jobs
            prev = len(jobs) if done else None
            time.sleep(0.3)

    def gc_ms(self) -> float:
        return float(sum(e.get("totalGCTime", 0) for e in self.get("/executors")))


class SparkFacts:
    """Jobs grouped by span id, with their completed stage metrics."""

    def __init__(self, rest: SparkRest) -> None:
        self.rest = rest
        self.jobs = rest.settle()
        self.stages = {}
        for s in rest.get("/stages"):
            if s["status"] == "COMPLETE":
                self.stages[s["stageId"]] = s  # a retried stage keeps its last attempt
        self.by_span: dict[int, list[dict]] = {}
        for j in self.jobs:
            g = j.get("jobGroup") or ""
            if g.startswith("s") and g[1:].isdigit():
                self.by_span.setdefault(int(g[1:]), []).append(j)
        for lst in self.by_span.values():
            lst.sort(key=lambda j: j["jobId"])

    @staticmethod
    def job_ms(job: dict) -> float:
        return (_ts(job.get("completionTime")) - _ts(job.get("submissionTime"))) * 1e3

    def job_stages(self, job: dict) -> list[dict]:
        return [self.stages[i] for i in job["stageIds"] if i in self.stages]

    def tasks(self, stage: dict) -> list[dict]:
        return self.rest.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )


# -- span arithmetic --------------------------------------------------------


class SpanTree:
    def __init__(self, spans: list[dict]) -> None:
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    def leaf_time(self, s: dict) -> float:
        return sum(v[0] for v in s["leaf"].values())

    def self_time(self, s: dict) -> float:
        kids = self.children.get(s["id"], ())
        return self.dur(s) - sum(self.dur(c) for c in kids) - self.leaf_time(s)

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur["id"], ()))
        return out

    def named(self, name: str) -> list[dict]:
        """Spans called ``name`` in the timed loop; all phases when none there."""
        hits = [s for s in self.spans if s["name"] == name]
        return [s for s in hits if s["phase"] == "loop"] or hits

    def in_loop(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["phase"] == "loop"]

    def leaf_totals(self, spans, name: str) -> tuple[float, int, int]:
        t = c = v = 0
        for root in spans:
            for s in self.subtree(root):
                acc = s["leaf"].get(name)
                if acc:
                    t, c, v = t + acc[0], c + acc[1], v + acc[2]
        return t, c, v


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, facts: SparkFacts, *, untraced_wall_s: float,
                  traced_wall_s: float, traced_uncontended_s: float, cores: int,
                  gc_ms: float, rss: dict, text_bytes_loop: int,
                  text_bytes_setup: int) -> dict[str, float]:
    """Every per-layer metric, 0 where the layer did no work in the run."""
    tree = SpanTree(tracer.spans)
    ctr = tracer.counters
    m: dict[str, float] = {}

    def jobs_under(s):
        return [j for x in tree.subtree(s) if x["jobs"] for j in facts.by_span.get(x["id"], ())]

    def stages_under(s):
        return [st for j in jobs_under(s) for st in facts.job_stages(j)]

    # session / set-up
    for metric, name in (("session.start_s", "session.start"),
                         ("setup.input_df_s", "setup.input_df"),
                         ("setup.warmup_s", "setup.warmup")):
        m[metric] = sum(tree.dur(s) for s in tree.spans if s["name"] == name)

    # index.builder: the loop's builds where the workload builds, else set-up's
    builds = tree.named("builder.build")
    seg_s, seg_cpu, straggle, shuffle, manifest = [], [], [], [], []
    for b in builds:
        stats_groups = {f"s{x['id']}" for t in tree.subtree(b) if t["name"] == "builder.termstats"
                        for x in tree.subtree(t)}
        own = facts.by_span.get(b["id"], [])
        own_stages = [(j, st) for j in own for st in facts.job_stages(j)]
        if own_stages:
            # the segment stage does the analyze/encode/write work: the
            # heaviest stage the build launched outside termstats; AQE may
            # split its query into several jobs, all with the same callsite
            seg_job, st = max(own_stages, key=lambda js: js[1].get("executorRunTime", 0))
            seg_jobs = [j for j in own if j["name"] == seg_job["name"]]
            seg_s.append(_ts(st.get("completionTime")) - _ts(st.get("submissionTime")))
            seg_cpu.append(st.get("executorCpuTime", 0) / 1e9)
            durs = [t.get("duration", 0) for t in facts.tasks(st)]
            if durs and statistics.median(durs) > 0:
                straggle.append(max(durs) / statistics.median(durs))
        else:
            seg_jobs = []
        manifest.append(sum(
            facts.job_ms(j) for j in jobs_under(b)
            if j not in seg_jobs and j.get("jobGroup") not in stats_groups
        ) / 1e3)
        shuffle.append(sum(st.get("shuffleWriteBytes", 0) for st in stages_under(b)) / 2**20)
    built_bytes = sum(b.get("bytes_written", 0) for b in builds)
    text = text_bytes_loop if any(b["phase"] == "loop" for b in builds) else text_bytes_setup
    m.update({
        "builder.wall_s": _mean(tree.dur(b) for b in builds),
        "builder.spark_jobs": _mean(len(jobs_under(b)) for b in builds),
        "builder.segment_stage_s": _mean(seg_s),
        "builder.segment_task_cpu_s": _mean(seg_cpu),
        "builder.straggler_ratio": _mean(straggle),
        "builder.shuffle_write_mb": _mean(shuffle),
        "builder.termstats_s": _mean(
            tree.dur(t) for b in builds for t in tree.subtree(b) if t["name"] == "builder.termstats"),
        "builder.manifest_s": _mean(manifest),
        "builder.driver_wait_s": _mean((tree.dur(b) - (b["c1"] - b["c0"])) for b in builds),
        "builder.bytes_written_per_text_byte": built_bytes / text if text else 0.0,
    })

    # index.merge (loop only: set-up never merges)
    merges, groups = tree.in_loop("merge.tiered"), tree.in_loop("merge.segments")
    m_stages = [st for s in merges for st in stages_under(s)]
    merge_bytes = sum(g.get("bytes_written", 0) for g in groups)
    loop_built = sum(b.get("bytes_written", 0) for b in builds if b["phase"] == "loop")
    m.update({
        "merge.calls": float(len(merges)),
        "merge.groups": float(len(groups)),
        "merge.wall_s": sum(tree.dur(s) for s in merges),
        "merge.spark_tasks": float(sum(st.get("numTasks", 0) for st in m_stages)),
        "merge.task_run_s": sum(st.get("executorRunTime", 0) for st in m_stages) / 1e3,
        "merge.task_cpu_s": sum(st.get("executorCpuTime", 0) for st in m_stages) / 1e9,
        "merge.bytes_rewritten_mb": merge_bytes / 2**20,
        "merge.write_amp": (loop_built + merge_bytes) / loop_built if loop_built else 1.0,
    })

    # index.reader / index.deletes
    m.update({
        "reader.open_ms": _mean(tree.dur(s) for s in tree.named("reader.open")) * 1e3,
        "reader.term_stats_ms": _mean(tree.dur(s) for s in tree.named("reader.term_stats")) * 1e3,
        "reader.local_norms_ms": _mean(tree.dur(s) for s in tree.named("reader.local_norms")) * 1e3,
        "reader.layout_cache_misses": float(ctr.get("reader.layout_cache_misses", 0)),
        "deletes.map_ms": _mean(tree.dur(s) for s in tree.named("deletes.map")) * 1e3,
    })

    # query.executor, index.codec and analysis (driver side, per query)
    searches, mats = tree.in_loop("executor.search"), tree.in_loop("executor.materialize")
    n_q = len(searches)
    u_t, u_c, u_v = tree.leaf_totals(searches, "codec.unpack")
    hits = sum(s.get("rows", 0) for s in mats)
    filt = [s for s in searches if s.get("filtered")]
    loop_spans = [s for s in tracer.spans if s["phase"] == "loop"]
    tok_t = sum(s["leaf"]["analysis.tokenize"][0] for s in loop_spans if "analysis.tokenize" in s["leaf"])
    tok_c = sum(s["leaf"]["analysis.tokenize"][1] for s in loop_spans if "analysis.tokenize" in s["leaf"])
    m.update({
        "analysis.tokenize_ms": tok_t / tok_c * 1e3 if tok_c else 0.0,
        "codec.unpack_calls": u_c / n_q if n_q else 0.0,
        "codec.unpack_ms": u_t / n_q * 1e3 if n_q else 0.0,
        "codec.values_decoded": u_v / n_q if n_q else 0.0,
        "codec.values_decoded_per_hit": u_v / hits if hits else 0.0,
        "executor.search_ms": _mean(tree.dur(s) for s in searches) * 1e3,
        "executor.self_ms": _mean(
            sum(tree.self_time(x) for x in tree.subtree(s) if x["name"].startswith("executor."))
            for s in searches) * 1e3,
        "executor.spark_jobs_per_query": _mean(len(jobs_under(s)) for s in searches),
        "executor.filter_job_ms": _mean(sum(facts.job_ms(j) for j in jobs_under(s)) for s in filt),
        "executor.materialize_ms": _mean(tree.dur(s) for s in mats) * 1e3,
        "executor.read_bytes_per_query": _mean(s["io1"] - s["io0"] for s in searches if "io1" in s),
        "executor.local_runner_share": (
            ctr.get("executor.local_runner_used", 0) / ctr["executor.execute_calls"]
            if ctr.get("executor.execute_calls") else 0.0),
    })

    # query.msearch
    calls = tree.in_loop("msearch.call")
    c_stages = [stages_under(s) for s in calls]
    delays = []
    for sts in c_stages:
        for st in sts:
            delays.extend(t.get("schedulerDelay", 0) for t in facts.tasks(st))
    m.update({
        "msearch.call_ms": _mean(tree.dur(s) for s in calls) * 1e3,
        "msearch.spark_jobs_per_call": _mean(len(jobs_under(s)) for s in calls),
        "msearch.scatter_task_run_s": _mean(
            sum(st.get("executorRunTime", 0) for st in sts) / 1e3 for sts in c_stages),
        "msearch.scatter_task_cpu_s": _mean(
            sum(st.get("executorCpuTime", 0) for st in sts) / 1e9 for sts in c_stages),
        "msearch.scheduler_delay_ms": _mean(delays),
        "msearch.result_bytes": _mean(sum(st.get("resultSize", 0) for st in sts) for sts in c_stages),
        "msearch.materialize_ms": _mean(
            tree.dur(s) for s in tree.in_loop("msearch.materialize")) * 1e3,
    })

    m["incremental.batch_ms"] = _mean(
        tree.dur(s) for s in tree.in_loop("incremental.batch")) * 1e3

    # spark / process
    loop_ops = tree.in_loop("bench.op")
    run_ms = sum(st.get("executorRunTime", 0) for s in loop_ops for st in stages_under(s))
    m.update({
        "spark.jvm_gc_s": gc_ms / 1e3,
        "spark.occupancy": run_ms / 1e3 / (traced_wall_s * cores) if traced_wall_s else 0.0,
        "process.driver_rss_mb": rss["driver"] / 2**20,
        "process.jvm_rss_mb": rss["jvm"] / 2**20,
        "process.worker_rss_mb": rss["workers"] / 2**20,
    })

    # tracing itself: overhead and how much of the wall the layers explain,
    # both with the host's CPU steal taken out of traced and untraced walls
    # (``untraced_wall_s`` arrives corrected; the spans hold raw wall time)
    layer_self = sum(
        tree.self_time(x) + tree.leaf_time(x)
        for s in loop_ops for x in tree.subtree(s) if x is not s
    ) + sum(tree.leaf_time(s) for s in loop_ops)
    steal_f = traced_uncontended_s / traced_wall_s if traced_wall_s else 1.0
    if untraced_wall_s:
        m["trace.overhead"] = traced_uncontended_s / untraced_wall_s - 1.0
        m["trace.accounted_share"] = layer_self * steal_f / untraced_wall_s
    else:
        m["trace.overhead"] = m["trace.accounted_share"] = 0.0
    return m
