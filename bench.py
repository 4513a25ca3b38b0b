"""Headline benchmark — prints ONE JSON line for the driver.

Measures, at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32):

  1. index-build throughput (turns/sec) over a deterministic synthetic
     transcript table of the BASELINE.json input_hint shape
     (conv_id, turn_idx, role, text, tool, ts) — the north-rule headline;
  2. BM25 top-k latency over the built index for the reference query set
     (per-query seconds + p50/p95 aggregate);
  3. a spread of non-fulltext headline operators (agg / join / dedup / ANN)
     on the driver-generated parquet tables.

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {...}, "sf": ..., plus build/query aggregates}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_spark.config import AnalyzerConfig, IndexConfig  # noqa: E402
from elasticsearch_spark.fixtures.transcripts import (  # noqa: E402
    generate_transcripts,
    reference_query_set,
)
from elasticsearch_spark.index import IndexReader, build_index  # noqa: E402
from elasticsearch_spark.ops import filters  # noqa: E402
from elasticsearch_spark.pipeline import dedup, similarity  # noqa: E402
from elasticsearch_spark.query.executor import search_topk  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# transcripts corpus size ~ 20x n_convs turns; sf0.1 -> ~64k turns
N_CONVS = int(os.environ.get("SPARK_GRAFT_NCONVS", "3000"))
WORK_DIR = os.environ.get("SPARK_GRAFT_WORK", "/tmp/es_spark_bench")

# ---- calm-window gate (round-4 protocol; see BENCH.md) --------------------
# The host's aggregate compute quota collapses on a minute scale (measured
# 8-worker burn swings 1.3-30 it/s at constant config); a suite run during a
# collapse measures the quota, not the engine — BENCH_r03.json was such an
# artifact (2.2x slower than the same-day re-run). Probe BEFORE starting the
# suite (so the decision cannot condition on the engine's result), wait out
# collapses up to a bound, and record every probe reading in the output.
GATE_FLOOR = float(os.environ.get("SPARK_GRAFT_BENCH_GATE", "10.0"))  # it/s
# Wait budget: r4 measured collapse episodes outlasting the old 4x45s
# budget (60+ gated attempts over 4h, most collapsed); 8x60s keeps the
# worst-case run under ~12 min (probes + suite) while roughly doubling
# the chance the committed artifact lands calm.
GATE_WAITS = int(os.environ.get("SPARK_GRAFT_BENCH_WAITS", "8"))
GATE_WAIT_S = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_S", "60"))

_BURN_SRC = r"""
import multiprocessing as mp, sys, time
import numpy as np
def work(n_iter):
    a = np.random.default_rng(0).standard_normal(4_000_000)
    s = 0.0
    for _ in range(n_iter):
        s += float(np.sort(a % 1.7).sum())
    return s
if __name__ == "__main__":
    nw = int(sys.argv[1]); n_iter = int(sys.argv[2])
    t0 = time.perf_counter()
    with mp.Pool(nw) as p:
        p.map(work, [n_iter] * nw)
    print(nw * n_iter / (time.perf_counter() - t0))
"""


def _burn(workers: int = 8, iters: int = 5) -> float:
    """Aggregate host throughput probe (a numpy-sort kernel in ``workers``
    processes); it/s across workers."""
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _BURN_SRC, str(workers), str(iters)],
        capture_output=True,
        text=True,
        check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _await_calm() -> dict:
    """Probe the quota; wait out collapses (bounded). Always returns the
    readings — the suite runs regardless after GATE_WAITS attempts, with
    calm=False recorded so a depressed result is attributable."""
    readings = []
    for attempt in range(GATE_WAITS + 1):
        r = round(_burn(), 2)
        readings.append(r)
        if r >= GATE_FLOOR:
            return {"pre_burn8": readings, "calm": True, "floor": GATE_FLOOR}
        if attempt < GATE_WAITS:
            print(
                f"bench gate: burn8 {r} it/s < {GATE_FLOOR} (quota collapse) "
                f"— waiting {GATE_WAIT_S}s [{attempt + 1}/{GATE_WAITS}]",
                file=sys.stderr,
            )
            time.sleep(GATE_WAIT_S)
    return {"pre_burn8": readings, "calm": False, "floor": GATE_FLOOR}


def _sf_label(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _t(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


def _filters_cond(f: dict):
    conds = []
    if "role" in f:
        conds.append(filters.term("role", f["role"]))
    if "tool" in f:
        conds.append(filters.term("tool", f["tool"]))
    if "ts_min" in f:
        conds.append(F.col("ts") >= F.lit(f["ts_min"]))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def main() -> None:
    bracket = _await_calm()
    t_suite0 = time.perf_counter()
    spark = get_spark(cores=CPUS, shuffle_partitions=CPUS, app_name="es_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    # ---- 1. index build over synthetic transcripts (north-rule headline) ----
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    idx_dir = os.path.join(WORK_DIR, "transcripts_idx")
    pdf = generate_transcripts(n_convs=N_CONVS, seed=42)
    turns = spark.createDataFrame(pdf).cache()
    n_turns = turns.count()  # materialize before timing the build

    cfg = IndexConfig(
        text_col="text",
        key_cols=("conv_id", "turn_idx"),
        stored_cols=("role", "tool", "ts"),
        analyzer=AnalyzerConfig(kind="standard"),
        n_partitions=CPUS,
        dedup_latest_by="ts",
    )
    t0 = time.perf_counter()
    res = build_index(spark, turns, idx_dir, cfg)
    build_sec = time.perf_counter() - t0
    timings["index_build"] = round(build_sec, 3)
    turns_per_sec = n_turns / build_sec

    # ---- 2. BM25 reference query set over the index ----
    reader = IndexReader(spark, idx_dir).cache_views()
    q_secs: list[float] = []
    for q in reference_query_set():
        t0 = time.perf_counter()
        search_topk(
            reader,
            q["query_text"],
            k=q["k"],
            operator=q["operator"],
            minimum_should_match=q["minimum_should_match"],
            filter_cond=_filters_cond(q["filters"]),
        ).collect()
        q_secs.append(time.perf_counter() - t0)
    timings["bm25_query_set"] = round(float(np.sum(q_secs)), 3)
    q_p50 = float(np.percentile(q_secs, 50))
    q_p95 = float(np.percentile(q_secs, 95))

    # ---- 2b. batched _msearch: the SAME query set in ONE job ----
    # contrast with bm25_query_set above: N x (scheduler + scan) vs
    # 1 x scheduler + 1 union-term scan with shared per-term decode.
    from elasticsearch_spark.query.msearch import msearch_topk

    specs = [
        {
            "query_text": q["query_text"],
            "operator": q["operator"],
            "minimum_should_match": q["minimum_should_match"],
            "filter_cond": _filters_cond(q["filters"]),
            "k": q["k"],
        }
        for q in reference_query_set()
    ]
    t0 = time.perf_counter()
    n_ms_rows = msearch_topk(reader, specs).count()
    timings["msearch_query_set"] = round(time.perf_counter() - t0, 3)

    # ---- 2c. positional operators over the same index ----
    from elasticsearch_spark.query import phrase_prefix_topk, phrase_topk
    from elasticsearch_spark.query.spans import span_near_topk

    t0 = time.perf_counter()
    phrase_topk(reader, "error timeout", k=10, slop=2).collect()
    phrase_topk(reader, "alpha beta gamma", k=10).collect()
    phrase_prefix_topk(reader, "alpha bet", k=10).collect()
    span_near_topk(reader, ["error", "retry"], slop=4, k=10).collect()
    timings["positional_query_set"] = round(time.perf_counter() - t0, 3)

    # ---- 3. non-fulltext headline operators on the sf tables ----
    def bench(name, fn, n=1):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    li = _t(spark, "lineitem")
    orders = _t(spark, "orders")
    docs = _t(spark, "documents")
    emb = _t(spark, "embeddings")

    bench(
        "agg_stats_lineitem",
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect(),
    )
    bench(
        "join_orders_lineitem",
        lambda: li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect(),
    )
    bench(
        "dedup_minhash",
        lambda: dedup.minhash_dedup(docs, "text", "doc_id", threshold=0.8).count(),
    )
    qvec = emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    bench(
        "ann_cosine_topk",
        lambda: similarity.cosine_topk(emb, "embedding", "vec_id", qvec, k=10).collect(),
    )
    ivf_dir = os.path.join(WORK_DIR, "ivf")
    bench(
        "ann_ivf_write",
        lambda: similarity.write_ivf(emb, "embedding", ivf_dir, bits=6),
    )
    bench(
        "ann_ivf_indexed_topk",
        lambda: similarity.ivf_topk_indexed(
            spark, ivf_dir, "embedding", "vec_id", qvec, k=10, bits=6,
            probe_hamming=2,
        ).collect(),
    )

    # ---- 4. round-3 ops: MERGE-shaped update + weighted completion ----
    from elasticsearch_spark.ops.suggest import (
        build_completion_entries,
        completion_suggest_weighted,
        read_completion_entries,
        write_completion_entries,
    )
    from elasticsearch_spark.ops.update import merge_upsert

    upd_batch = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.lit("xx").alias("lang")
    )
    bench(
        "update_merge_upsert",
        lambda: merge_upsert(docs, upd_batch, ["doc_id"]).count(),
    )
    comp_dir = os.path.join(WORK_DIR, "completion")
    write_completion_entries(
        build_completion_entries(
            docs, "source", "n_chars", "source", F.col("doc_id").cast("string")
        ),
        comp_dir,
    )
    comp = read_completion_entries(spark, comp_dir)
    bench(
        "suggest_completion_weighted",
        lambda: completion_suggest_weighted(comp, "src1", size=5).collect(),
    )

    total = time.perf_counter() - t_suite0
    bracket["post_burn8"] = round(_burn(), 2)
    print(
        json.dumps(
            {
                "metric": "es_spark_bench_suite",
                "value": round(total, 3),
                "unit": "sec",
                "bracket": bracket,
                "queries": timings,
                "sf": _sf_label(SF_DIR),
                "cpus": CPUS,
                "build_turns": int(n_turns),
                "build_turns_per_sec": round(turns_per_sec, 1),
                "build_segments": res.n_segments,
                "bm25_n_queries": len(q_secs),
                "msearch_rows": int(n_ms_rows),
                "bm25_p50_sec": round(q_p50, 4),
                "bm25_p95_sec": round(q_p95, 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
