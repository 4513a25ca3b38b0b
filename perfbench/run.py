"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload search_interactive --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Prints a run record (JSON, one line) and,
as the last line of standard output, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
run writes goes under ``.bench_work/`` in the checkout, which is wiped first.
See perfbench/NOTES.md.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procmon import contention, process_age_s  # noqa: E402  (stdlib only)

T_PROCESS = time.perf_counter() - process_age_s()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

# search_batch's msearch calls run as the second timed phase of
# search_interactive: three workloads do not fit the run budget (NOTES.md)
WORKLOADS = ("search_interactive", "ingest_refresh")
BASE_TURNS = 8500  # base corpus turns (+1% late duplicates)
BATCH_TURNS = 700  # turns per ingest micro-batch (~8% of the base)
# search_interactive: share of --seconds for single searches; msearch calls
# get the rest. A 25-query call takes ~1.5 s, so its p50 rests on ~6 calls
# against ~30 single searches; more time for it balances the spreads
INTERACTIVE_SHARE = 0.4
INGEST_REFRESHES = 3  # ingest_refresh: timed refreshes per run, at least
QUERY_STREAM = 4000  # more than any run can issue
MSEARCH_FROM = 2000  # the msearch phase draws its batches from qid 2000 on
DRIVER_MEM = "1g"  # fixed heap (-Xms = -Xmx): peak RSS must not hang on G1 sizing
ORACLE_PER_CLASS = 2  # oracle-checked queries per class (match, filtered, msearch)
AGREEMENT_SAMPLE = 6
FINAL_STATE_QUERIES = 1  # extra post-timing ingest_refresh queries for the oracle
WORK = ".bench_work"

# end-to-end metrics per workload: (metric, unit) -> the class it reads
E2E_UNITS = {
    "setup_s": "s",
    "build_turns_per_s": "1/s",
    "primary_p50_ms": "ms",
    "secondary_ms": "ms",
    "tertiary_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=BASE_TURNS,
                   help="base corpus turns (smoke tests shrink it)")
    p.add_argument("--batch-turns", type=int, default=BATCH_TURNS)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, traced: bool) -> None:
    """Pin every setting the numbers depend on, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_UI"] = "true" if traced else "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }
    # no hsperfdata file under /tmp: everything the run writes stays in the checkout
    args = ["--driver-java-options", f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def latency_summary(name: str, xs: list[float], out: dict) -> None:
    """p50 plus the highest percentile with >= 10 samples beyond it."""
    out[f"{name}_n"] = len(xs)
    if not xs:
        return
    out[f"{name}_p50_ms"] = statistics.median(xs) * 1e3
    for p in (99, 95, 90, 80, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            cuts = statistics.quantiles(xs, n=100, method="inclusive")
            out[f"{name}_p{p}_ms"] = cuts[p - 1] * 1e3
            break


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "elasticsearch_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def workload_properties(ops, qs) -> dict:
    """Measured shares of the input properties the engine's costs depend on."""
    n = len(qs) or 1
    seen, repeats, filtered = set(), 0, 0
    for q in qs:
        if q.filtered:
            filtered += 1
            repeats += q.filter_key() in seen
            seen.add(q.filter_key())
    segs = [op.segments for op in ops if op.segments]
    return {
        "queries": len(qs),
        "class_share": {c: sum(q.cls == c for q in qs) / n for c in ("match", "filtered")},
        "operator_share": {o: sum(q.operator == o for q in qs) / n for o in ("or", "and", "msm2")},
        "k_share": {str(k): sum(q.k == k for q in qs) / n for k in (1, 10, 100)},
        "filtered_repeat_share": repeats / filtered if filtered else 0.0,
        "hot_term_share": sum(q.has_hot for q in qs) / n,
        "segments_min": min(segs) if segs else 0,
        "segments_median": statistics.median(segs) if segs else 0,
        "segments_max": max(segs) if segs else 0,
        "refreshes": sum(op.kind == "refresh" for op in ops),
        "refreshes_with_merge": sum(op.merged for op in ops),
    }


def uncontended_factor(ops) -> float:
    """1 - the share of the CPU time these operations' VM asked for that the
    hypervisor gave to other guests (see NOTES.md, "Host contention")."""
    return 1.0 - contention(sum(op.busy for op in ops), sum(op.steal for op in ops))


def e2e_metrics(workload, ops, setup_s, setup_f, build_tps, build_f, peak_mb,
                bytes_ratio) -> tuple[dict, dict]:
    """(BENCHMARK.json metrics, detail metrics under the class names).

    Detail metrics are wall-clock as measured. BENCHMARK.json times are the same
    wall-clock times with the host's measured CPU steal taken out; rates
    are divided by the same factor."""
    detail: dict = {}
    cls = {k: [op for op in ops if op.kind == k]
           for k in ("match", "filtered", "msearch", "refresh")}
    by = {k: [op.seconds for op in v] for k, v in cls.items()}
    f = {k: uncontended_factor(v) for k, v in cls.items() if v}
    detail.update({f"{k}_uncontended_factor": v for k, v in f.items()})
    detail["setup_uncontended_factor"] = setup_f
    detail["build_uncontended_factor"] = build_f
    if workload == "search_interactive":
        latency_summary("match", by["match"], detail)
        latency_summary("filtered", by["filtered"], detail)
        latency_summary("msearch", by["msearch"], detail)
        n_q = sum(len(op.queries) for op in cls["msearch"])
        detail["msearch_qps"] = n_q / sum(by["msearch"])
        slots = (detail["match_p50_ms"] * f["match"],
                 detail["filtered_p50_ms"] * f["filtered"],
                 detail["msearch_p50_ms"] * f["msearch"],
                 detail["msearch_qps"] / f["msearch"])
    else:
        latency_summary("refresh", by["refresh"], detail)
        detail["refresh_max_ms"] = max(by["refresh"]) * 1e3
        turns = sum(op.turns for op in cls["refresh"])
        detail["ingest_turns_per_s"] = turns / sum(by["refresh"])
        detail["match_mean_ms"] = statistics.fmean(by["match"]) * 1e3
        detail["match_n"] = len(by["match"])
        slowest = max(cls["refresh"], key=lambda op: op.seconds)
        slots = (detail["refresh_p50_ms"] * f["refresh"],
                 detail["match_mean_ms"] * f["match"],
                 detail["refresh_max_ms"] * uncontended_factor([slowest]),
                 detail["ingest_turns_per_s"] / f["refresh"])
    metrics = {
        "setup_s": setup_s * setup_f,
        "build_turns_per_s": build_tps / build_f,
        "primary_p50_ms": slots[0],
        "secondary_ms": slots[1],
        "tertiary_ms": slots[2],
        "throughput_per_s": slots[3],
        "peak_rss_mb": peak_mb,
        "index_bytes_per_text_byte": bytes_ratio,
    }
    detail.update({"setup_s": setup_s, "build_turns_per_s": build_tps,
                   "peak_rss_mb": peak_mb, "index_bytes_per_text_byte": bytes_ratio})
    return metrics, detail


def run_loop(bench, args, queries, after_ts, first_batch=1, min_refreshes=None,
             seconds=None):
    """The workload's timed loop: (ops, ingest batches landed)."""
    from perfbench import workloads as wl

    seconds = args.seconds if seconds is None else seconds
    if args.workload == "search_interactive":
        split = [i for i, q in enumerate(queries) if q.qid >= MSEARCH_FROM][0]
        single_s = seconds * INTERACTIVE_SHARE
        return (bench.run_interactive(queries[:split], single_s)
                + bench.run_batch(queries[split:], seconds - single_s)), []
    return bench.run_ingest(args.seed, queries, seconds, args.batch_turns, first_batch,
                            after_ts, min_refreshes or INGEST_REFRESHES)


def uncontended_s(op) -> float:
    """The operation's wall time with the host's measured CPU steal taken out."""
    return op.seconds * (1.0 - contention(op.busy, op.steal))


def untraced_equivalent(traced, untraced) -> float:
    """What the traced operations would take untraced (steal taken out):
    each at the mean untraced time of its class (kind, and whether a refresh
    merged). Exact for a paired replay; a per-class estimate across ingest
    cycles."""
    def cls(op):
        return op.kind, op.merged

    by: dict = {}
    for op in untraced:
        by.setdefault(cls(op), []).append(uncontended_s(op))
    return sum(statistics.fmean(by[cls(op)]) for op in traced if cls(op) in by)


def paired_replay(bench, tracer, ops):
    """Re-issue every operation twice, traced and untraced back to back,
    alternating which goes first so warm-up and caching favour neither.
    Returns (traced ops, untraced ops)."""
    traced, untraced = [], []
    for i, op in enumerate(ops):
        for on in ((True, False) if i % 2 else (False, True)):
            tracer.enabled = on
            again = (bench.msearch(op.queries) if op.kind == "msearch"
                     else bench.search(op.queries[0]))
            (traced if on else untraced).append(again)
    tracer.enabled = False
    return traced, untraced


def shutdown(spark) -> list[int]:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.procmon import descendants, wait_gone

    tree = list(descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    return wait_gone(tree, timeout=20)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "elasticsearch_spark", "__init__.py")):
        print(f"elasticsearch_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK)
    shutil.rmtree(work, ignore_errors=True)
    traced = bool(args.trace)
    prepare_env(work, traced)

    import pandas as pd

    from perfbench import checks, inputs, trace
    from perfbench import workloads as wl
    from perfbench.procmon import RssSampler, contention, cpu_ticks

    rss = RssSampler().start()
    tracer = trace.Tracer(enabled=traced)
    if traced:
        trace.install(tracer)

    # input generation: before any clock that feeds a metric
    t = time.perf_counter()
    corpus = inputs.sized_transcripts(inputs.stream_seed(args.seed, 0), args.turns)
    queries = inputs.query_stream(args.seed, corpus, QUERY_STREAM)
    batch0 = None
    if args.workload == "ingest_refresh":
        batch0 = inputs.ingest_batch(args.seed, 0, args.batch_turns, corpus["ts"].max())
    input_gen_s = time.perf_counter() - t
    base_text = inputs.text_bytes(corpus)

    ticks0 = cpu_ticks()
    bench = wl.Bench(tracer, work, nproc(), f"perfbench-{args.workload}")
    phase_s: dict = {}
    try:
        setup = bench.setup(corpus, args.workload, batch0)
        warmup_ops = [setup.pop("warmup_refresh")] if batch0 is not None else []
        spark = bench.spark
        setup_s = time.perf_counter() - T_PROCESS - input_gen_s
        phase_s["setup_done"] = time.perf_counter() - T_PROCESS
        build_tps = len(corpus) / setup["build_s"]
        after_ts = batch0.frame["ts"].max() if batch0 is not None else None

        tracer.phase = "loop"
        ticks1 = cpu_ticks()
        rest = gc0 = None
        if traced:
            # phase A: the plain loop, wrappers passing through; its ops give
            # the end-to-end numbers in the record
            tracer.enabled = False
            ops_a, batches_a = run_loop(bench, args, queries, after_ts)
            rest = trace.SparkRest(spark.sparkContext)
            gc0 = rest.gc_ms()
            # phase B: the same work traced, for the per-layer numbers
            if args.workload == "search_interactive":
                ops_b, ops_u = paired_replay(bench, tracer, ops_a)
                batches_b = []
            else:  # a refresh cannot be re-issued: trace the next merge cycle
                tracer.enabled = True
                used = {q.qid for op in ops_a for q in op.queries}
                ops_b, batches_b = run_loop(
                    bench, args, [q for q in queries if q.qid not in used],
                    batches_a[-1].frame["ts"].max(), first_batch=1 + len(batches_a),
                    min_refreshes=wl.REFRESH_CYCLE, seconds=0.0)
                tracer.enabled = False
                ops_u = ops_a
            replayed = ops_u if args.workload == "search_interactive" else []
            ops, batches = ops_a + ops_b + replayed, batches_a + batches_b
        else:
            ops, batches = run_loop(bench, args, queries, after_ts)
        # timing is over: everything below is checking and reporting
        ticks2 = cpu_ticks()

        phase_s["loop_done"] = time.perf_counter() - T_PROCESS
        checker = checks.Checker(args.seed)
        if batch0 is not None:
            batches = [batch0] + batches
        frames = [corpus] + [b.frame for b in batches]
        extra = []
        if args.workload == "ingest_refresh":
            used = {q.qid for op in ops for q in op.queries}
            fresh = [q for q in queries if q.qid not in used][:FINAL_STATE_QUERIES]
            extra = [bench.search(q) for q in fresh]
        all_ops = warmup_ops + ops + extra
        checker.structure(all_ops)
        ok = [i for i, op in enumerate(all_ops) if op.error is None and op.rows is not None]
        eng = checks.oracle_engine(frames)
        if args.workload == "search_interactive":
            for cls in ("match", "filtered"):
                pairs = [(i, all_ops[i].queries[0], all_ops[i].rows) for i in ok
                         if all_ops[i].kind == cls]
                checker.oracle(eng, checker.sample(pairs, ORACLE_PER_CLASS))
            pairs = [(i, q, all_ops[i].rows[qi]) for i in ok if all_ops[i].kind == "msearch"
                     for qi, q in enumerate(all_ops[i].queries)]
            checker.oracle(eng, checker.sample(pairs, ORACLE_PER_CLASS))
            checker.agreement(checker.sample(pairs, AGREEMENT_SAMPLE),
                              lambda q: bench.search(q).rows or [])
        else:
            # the final index state: searches after the last refresh + extras
            last = max(i for i, op in enumerate(all_ops) if op.kind == "refresh")
            checker.oracle(eng, [(i, all_ops[i].queries[0], all_ops[i].rows)
                                 for i in ok if i > last])

        with open(os.path.join(work, "ops.json"), "w") as f:
            json.dump([{"kind": op.kind, "seconds": op.seconds, "merged": op.merged,
                        "queries": [[q.qid, q.text, q.operator, q.k, str(q.filters)]
                                    for q in op.queries]} for op in ops], f)
        phase_s["checks_done"] = time.perf_counter() - T_PROCESS
        index_bytes = bench.index_bytes()
        text_total = base_text + sum(inputs.text_bytes(b.frame) for b in batches)
        result_metrics: dict
        record_extra: dict = {}
        if traced:
            facts = trace.SparkFacts(rest)
            gc_ms = rest.gc_ms() - gc0
            rss.sample()
            layer = trace.layer_metrics(
                tracer, facts,
                untraced_wall_s=untraced_equivalent(ops_b, ops_u),
                traced_wall_s=sum(op.seconds for op in ops_b),
                traced_uncontended_s=sum(uncontended_s(op) for op in ops_b),
                cores=bench.nproc, gc_ms=gc_ms, rss=rss.peak,
                text_bytes_loop=sum(inputs.text_bytes(b.frame) for b in batches_b),
                text_bytes_setup=base_text,
            )
            tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
            result_metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
            share = layer["trace.accounted_share"]
            tolerance = trace.TRACE_TOLERANCE[args.workload]
            record_extra["trace"] = {
                "tolerance": tolerance,
                "accounted_share": share,
                "within_tolerance": abs(share - 1.0) <= tolerance,
                "overhead": layer["trace.overhead"],
                "spans": len(tracer.spans),
            }
            measured = ops_a
        else:
            measured = ops
        setup_f = 1.0 - contention(ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
        build_f = 1.0 - contention(setup["build_busy"], setup["build_steal"])
        e2e, detail = e2e_metrics(args.workload, measured, setup_s, setup_f, build_tps,
                                  build_f, rss.peak_mb(), index_bytes / text_total)
        if not traced:
            result_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

        sc = spark.sparkContext
        conf = dict(sc.getConf().getAll())
        import pyarrow
        import pyspark

        attempted = len(all_ops)
        failed = len(checker.failed)
        detail["error_rate"] = failed / attempted
        issued = [q for op in measured if op.kind != "refresh" for q in op.queries]
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": bench.nproc, "master": sc.master,
            "driver_memory": conf.get("spark.driver.memory"),
            "spark_conf": {k: v for k, v in sorted(conf.items()) if k.startswith(
                ("spark.sql.shuffle", "spark.sql.adaptive", "spark.sql.execution.arrow",
                 "spark.ui.enabled", "spark.master", "spark.driver.memory",
                 "spark.local.dir", "spark.default.parallelism"))},
            "versions": {
                "python": sys.version.split()[0], "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "pandas": pd.__version__,
                "java": sc._jvm.java.lang.System.getProperty("java.version"),
            },
            "git_commit": git_commit(), "source_sha256": source_digest(),
            "input_gen_s": input_gen_s,
            # host contention: CPU time the hypervisor gave to other guests
            "contention": {
                "setup": contention(ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]),
                "loop": contention(ticks2[0] - ticks1[0], ticks2[1] - ticks1[1]),
            },
            "corpus": {"turns": len(corpus), "text_bytes": base_text,
                       "batch_turns": args.batch_turns},
            "setup": {**setup, "setup_s": setup_s},
            "properties": workload_properties(measured, issued),
            # per operation: (wall ms, busy jiffies, steal jiffies)
            "ops": {k: [(op.seconds * 1e3, op.busy, op.steal) for op in measured if op.kind == k]
                    for k in ("match", "filtered", "msearch", "refresh")},
            "metrics_by_class": detail,
            "units": {k: _detail_unit(k) for k in detail},
            "checks": {**checker.counts, "attempted": attempted, "failed": failed,
                       "failures": {str(i): w for i, w in list(checker.failed.items())[:10]}},
            **record_extra,
        }
    finally:
        rss.stop()
        killed = shutdown(bench.spark)
        phase_s["stopped"] = time.perf_counter() - T_PROCESS
    record["phase_s"] = phase_s
    record["peak_rss_mb_by_role"] = {r: rss.peak_mb(r) for r in rss.peak}
    record["killed_after_stop"] = killed
    for i, why in checker.failed.items():
        print(f"operation {i} failed: {why}", file=sys.stderr)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }))
    return 0


def _detail_unit(name: str) -> str:
    if name.endswith(("_per_s", "_qps")):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_n"):
        return "count"
    return "ratio"


LAYER_UNITS = {
    "session.start_s": "s", "setup.input_df_s": "s", "setup.warmup_s": "s",
    "builder.wall_s": "s", "builder.spark_jobs": "count", "builder.segment_stage_s": "s",
    "builder.segment_task_cpu_s": "s", "builder.straggler_ratio": "ratio",
    "builder.shuffle_write_mb": "MB", "builder.termstats_s": "s", "builder.manifest_s": "s",
    "builder.driver_wait_s": "s", "builder.bytes_written_per_text_byte": "ratio",
    "merge.calls": "count", "merge.groups": "count", "merge.wall_s": "s",
    "merge.spark_tasks": "count", "merge.task_run_s": "s", "merge.task_cpu_s": "s",
    "merge.bytes_rewritten_mb": "MB", "merge.write_amp": "ratio",
    "reader.open_ms": "ms", "reader.term_stats_ms": "ms", "reader.local_norms_ms": "ms",
    "reader.layout_cache_misses": "count",
    "codec.unpack_calls": "count", "codec.unpack_ms": "ms", "codec.values_decoded": "count",
    "codec.values_decoded_per_hit": "ratio",
    "deletes.map_ms": "ms", "analysis.tokenize_ms": "ms",
    "executor.search_ms": "ms", "executor.self_ms": "ms",
    "executor.spark_jobs_per_query": "count", "executor.filter_job_ms": "ms",
    "executor.materialize_ms": "ms", "executor.read_bytes_per_query": "B",
    "executor.local_runner_share": "ratio",
    "msearch.call_ms": "ms", "msearch.spark_jobs_per_call": "count",
    "msearch.scatter_task_run_s": "s", "msearch.scatter_task_cpu_s": "s",
    "msearch.scheduler_delay_ms": "ms", "msearch.result_bytes": "B",
    "msearch.materialize_ms": "ms",
    "incremental.batch_ms": "ms",
    "spark.jvm_gc_s": "s", "spark.occupancy": "ratio",
    "process.driver_rss_mb": "MB", "process.jvm_rss_mb": "MB", "process.worker_rss_mb": "MB",
    "trace.overhead": "ratio", "trace.accounted_share": "ratio",
}


if __name__ == "__main__":
    sys.exit(main())
