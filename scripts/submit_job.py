"""spark-submit entry point — index-build + query job for cluster runs.

    spark-submit --py-files dist/elasticsearch_spark.zip \
        scripts/submit_job.py <input_parquet_or_synthetic:N> <index_dir> [query]

The SparkSession comes from spark-submit (cluster manager decides executors);
this script only declares the job. With "synthetic:N" as input it builds the
deterministic transcript corpus (driver-side, seed 42) as an RDD-backed
frame — used by the N-vs-4N scaling evidence when no real table exists; the
build always runs its segment stage as Spark tasks.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import SparkSession

from elasticsearch_spark.config import AnalyzerConfig, IndexConfig
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.query import search_topk


def main() -> None:
    src, index_dir = sys.argv[1], sys.argv[2]
    query = sys.argv[3] if len(sys.argv) > 3 else "error timeout"
    spark = SparkSession.builder.appName("es_spark_submit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if src.startswith("synthetic:"):
        from elasticsearch_spark.fixtures import generate_transcripts

        local = spark.createDataFrame(
            generate_transcripts(n_convs=int(src.split(":")[1]), seed=42)
        )
        # as an RDD, like rows from a distributed source: Catalyst cannot
        # size it, so the build runs its segment stage as Spark tasks (a
        # small local relation would be built on the driver)
        df = spark.createDataFrame(local.rdd, local.schema)
    else:
        df = spark.read.parquet(src)

    cfg = IndexConfig(
        stored_cols=("role", "tool", "ts"),
        analyzer=AnalyzerConfig(kind="standard"),
        n_partitions=max(spark.sparkContext.defaultParallelism * 2, 8),
        dedup_latest_by="ts",
    )
    df = df.cache()
    n = df.count()
    t0 = time.perf_counter()
    res = build_index(spark, df, index_dir, cfg)
    dt = time.perf_counter() - t0
    print(f"BUILD n_turns={n} sec={dt:.2f} turns_per_sec={n / dt:.1f} "
          f"segments={res.n_segments}")

    reader = IndexReader(spark, index_dir)
    hits = search_topk(reader, query, k=10, mode="spark").collect()
    print(f"QUERY '{query}' top-{len(hits)}:")
    for r in hits:
        print(" ", tuple(r))
    spark.stop()


if __name__ == "__main__":
    main()
