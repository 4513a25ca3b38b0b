"""Scaling-efficiency evidence runner (north rule: >= 0.8 from N to 4N).

No real cluster exists in this sandbox, so the same job runs on the same
input at two parallelism levels — local[8] (N) and local[32] (4N) — with an
identical partition count, and we report throughput at both. Usage:

    python scripts/scaling_report.py <cores> [n_convs] [out.json]

The companion scripts/write_bench_md.py combines two result files into
BENCH.md with the efficiency calculation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from elasticsearch_spark.config import AnalyzerConfig, IndexConfig  # noqa: E402
from elasticsearch_spark.fixtures.transcripts import (  # noqa: E402
    generate_transcripts,
    reference_query_set,
)
from elasticsearch_spark.index import IndexReader, build_index  # noqa: E402
from elasticsearch_spark.query.executor import search_topk  # noqa: E402
from elasticsearch_spark.session import get_spark  # noqa: E402

N_PARTITIONS = 64  # identical layout at both parallelism levels


def main() -> None:
    # spec: plain int -> local[N]; "ExC" -> local-cluster[E,C,8192]
    # (E separate executor JVMs with C cores each — the faithful
    # N-vs-4N-executors emulation)
    spec = sys.argv[1]
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 8000
    out_path = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/scaling_{spec}.json"

    if "x" in spec:
        n_exec, c_exec = (int(v) for v in spec.split("x"))
        master = f"local-cluster[{n_exec},{c_exec},8192]"
        cores = n_exec * c_exec
    else:
        cores = int(spec)
        master = None
    spark = get_spark(cores=cores, shuffle_partitions=N_PARTITIONS,
                      app_name=f"scaling_{spec}", master=master)
    spark.sparkContext.setLogLevel("ERROR")

    pdf = generate_transcripts(n_convs=n_convs, seed=42)
    turns = spark.createDataFrame(pdf).cache()
    n_turns = turns.count()

    idx_dir = f"/tmp/es_spark_scaling/idx_c{spec}"
    shutil.rmtree(idx_dir, ignore_errors=True)
    cfg = IndexConfig(
        stored_cols=("role", "tool", "ts"),
        analyzer=AnalyzerConfig(kind="standard"),
        n_partitions=N_PARTITIONS,
        dedup_latest_by="ts",
    )
    t0 = time.perf_counter()
    build_index(spark, turns, idx_dir, cfg)
    build_sec = time.perf_counter() - t0

    if os.environ.get("SPARK_GRAFT_BUILD_ONLY"):
        result = {
            "spec": spec,
            "master": master or f"local[{cores}]",
            "cores": cores,
            "n_turns": int(n_turns),
            "n_partitions": N_PARTITIONS,
            "build_sec": round(build_sec, 2),
            "build_turns_per_sec": round(n_turns / build_sec, 1),
        }
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
        spark.stop()
        return

    # distributed query path (mode="spark") — the path that must scale
    reader = IndexReader(spark, idx_dir).cache_views()
    qset = [q for q in reference_query_set() if not q["filters"]]
    # warmup (cache fill) then timed pass
    search_topk(reader, "error timeout", k=10, mode="spark").collect()
    secs = []
    for q in qset:
        t0 = time.perf_counter()
        search_topk(
            reader, q["query_text"], k=q["k"], operator=q["operator"],
            minimum_should_match=q["minimum_should_match"], mode="spark",
        ).collect()
        secs.append(time.perf_counter() - t0)

    # batched _msearch of the SAME query set — ONE job; the structural
    # answer to the per-job scheduling constant that pins sequential
    # distributed-mode latency regardless of cores
    from elasticsearch_spark.query.msearch import msearch_topk

    specs = [
        {
            "query_text": q["query_text"],
            "operator": q["operator"],
            "minimum_should_match": q["minimum_should_match"],
            "k": q["k"],
        }
        for q in qset
    ]
    t0 = time.perf_counter()
    msearch_topk(reader, specs, mode="spark").count()
    ms1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    msearch_topk(reader, specs, mode="spark").count()
    ms2 = time.perf_counter() - t0

    result = {
        "spec": spec,
        "master": master or f"local[{cores}]",
        "cores": cores,
        "n_turns": int(n_turns),
        "n_partitions": N_PARTITIONS,
        "build_sec": round(build_sec, 2),
        "build_turns_per_sec": round(n_turns / build_sec, 1),
        "n_queries": len(secs),
        "query_total_sec": round(float(np.sum(secs)), 2),
        "query_qps": round(len(secs) / float(np.sum(secs)), 2),
        "query_p50_sec": round(float(np.percentile(secs, 50)), 4),
        "query_p95_sec": round(float(np.percentile(secs, 95)), 4),
        "msearch_total_sec": round(min(ms1, ms2), 2),
        "msearch_qps": round(len(specs) / min(ms1, ms2), 2),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
