"""Skew evidence for the salted tiered merge (round-4 verdict item 8).

Builds an index over a deliberately skewed corpus — one synthetic term
("hotspot") injected into 30% of all turns — then runs ``tiered_merge``
with salted repack and reports the facts that make the 100 TB salting
claim a measurement instead of an assertion:

- the hot term's df and total posting blocks before the merge,
- the per-salt-task block histogram of the repack (merged block ordinals
  encode the salt in their high bits: ``block_id >> 32``, merge.py:148),
- the merge fan-in recorded in the manifest,
- a post-merge hot-term query (results must still be correct).

Without salting, the hot term's repack would be ONE applyInPandas task
holding ~30% of all postings; with merge.SALT_BUCKETS=32 the histogram below
shows it split into ~32 near-equal tasks (max task ≈ total/32).

Usage: python scripts/skew_merge_report.py [n_convs] [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index, manifest
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import search_topk
from elasticsearch_spark.session import get_spark

HOT = "hotspot"


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/skew_merge_report.json"
    idx_dir = "/tmp/skew_merge_idx"
    shutil.rmtree(idx_dir, ignore_errors=True)

    corpus = generate_transcripts(n_convs=n_convs, seed=7)
    # plant the hot term into a deterministic 30% of turns
    rng = np.random.default_rng(11)
    mask = rng.random(len(corpus)) < 0.30
    corpus.loc[mask, "text"] = corpus.loc[mask, "text"] + f" {HOT}"
    n_hot = int(mask.sum())

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "16")),
                      shuffle_partitions=32)
    cfg = IndexConfig(stored_cols=("role",), n_partitions=16)
    t0 = time.perf_counter()
    build_index(spark, spark.createDataFrame(corpus), idx_dir, cfg)
    build_sec = time.perf_counter() - t0

    posts = spark.read.parquet(os.path.join(idx_dir, "postings"))
    pre = (
        posts.where(F.col("term") == HOT)
        .agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum("n_docs").alias("df"),
        )
        .collect()[0]
    )

    t0 = time.perf_counter()
    merges = tiered_merge(spark, idx_dir, fan_in=10, repack=True)
    merge_sec = time.perf_counter() - t0
    fan_ins = [m["merge_fan_in"] for m in merges]

    # merged block ordinals are salt-major (merge.py:148): salt = id >> 32
    active = manifest.active(manifest.read(idx_dir))["segment_id"].tolist()
    # fresh read: the pre-merge DataFrame's partition discovery predates the
    # merged segment directories
    merged_posts = spark.read.parquet(os.path.join(idx_dir, "postings")).where(
        F.col("segment_id").isin(active)
    )
    hist = (
        merged_posts.where(F.col("term") == HOT)
        .groupBy((F.col("block_id") / (1 << 32)).cast("long").alias("salt"))
        .agg(F.count(F.lit(1)).alias("blocks"), F.sum("n_docs").alias("docs"))
        .orderBy("salt")
        .collect()
    )
    salt_blocks = [int(r["blocks"]) for r in hist]
    total_term_blocks = sum(salt_blocks)

    # top non-hot terms for contrast
    top = (
        merged_posts.groupBy("term")
        .agg(F.sum("n_docs").alias("df"))
        .orderBy(F.col("df").desc())
        .limit(5)
        .collect()
    )

    reader = IndexReader(spark, idx_dir)
    q = search_topk(reader, HOT, k=10).collect()
    assert len(q) == 10, f"hot-term query returned {len(q)} rows"

    rec = {
        "n_convs": n_convs,
        "n_turns": int(len(corpus)),
        "hot_term_docs": n_hot,
        "hot_term_share": round(n_hot / len(corpus), 4),
        "build_sec": round(build_sec, 2),
        "merge_sec": round(merge_sec, 2),
        "merge_fan_ins": fan_ins,
        "pre_merge_hot_blocks": int(pre["blocks"]),
        "pre_merge_hot_df": int(pre["df"]),
        "repack_salt_tasks": len(salt_blocks),
        "salt_task_blocks_min": min(salt_blocks) if salt_blocks else 0,
        "salt_task_blocks_max": max(salt_blocks) if salt_blocks else 0,
        "salt_task_blocks_mean": round(total_term_blocks / max(len(salt_blocks), 1), 1),
        "hot_blocks_after": total_term_blocks,
        "unsalted_single_task_blocks": total_term_blocks,
        "top_terms_df": {r["term"]: int(r["df"]) for r in top},
        "hot_query_top10_ok": True,
    }
    with open(out_json, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec, indent=1))


if __name__ == "__main__":
    main()
