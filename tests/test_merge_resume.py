"""Segment merge invariance + checkpoint/resume (FIXTURES.md F5, invariance
matrix): queries identical pre/post merge; resumed build byte-identical to a
cold build; committed partitions are skipped on resume."""

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import search_topk

CFG = dict(
    text_col="text",
    key_cols=("conv_id", "turn_idx"),
    stored_cols=("role", "tool"),
    dedup_latest_by="ts",
)
QUERIES = ["error timeout", "tok0000", "tok0001 tok0002 tok0003", "tiebreak alpha"]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(generate_transcripts(n_convs=50, seed=7))


def _results(reader, queries=QUERIES, k=10):
    out = {}
    for q in queries:
        rows = search_topk(reader, q, k=k).collect()
        out[q] = [(r["conv_id"], r["turn_idx"], round(r["score"], 10)) for r in rows]
    return out


def _tree_hash(path, subdirs=("postings", "docs", "norms", "segterms")):
    h = hashlib.sha256()
    for sub in subdirs:
        for f in sorted(glob.glob(os.path.join(path, sub, "**", "*.parquet"), recursive=True)):
            h.update(os.path.relpath(f, path).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def test_merge_preserves_results(spark, corpus_df, tmp_root):
    idx = f"{tmp_root}/idx_merge"
    cfg = IndexConfig(n_partitions=8, **CFG)
    build_index(spark, corpus_df, idx, cfg)
    before = _results(IndexReader(spark, idx))
    rows = tiered_merge(spark, idx, fan_in=4, repack=True)
    assert rows and all(r["merge_fan_in"] > 1 for r in rows)
    after = _results(IndexReader(spark, idx))
    assert before == after
    # merged again down to one segment — still identical
    tiered_merge(spark, idx, fan_in=10, repack=False)
    assert _results(IndexReader(spark, idx)) == before
    # merge metrics recorded
    man = spark.read.parquet(f"{idx}/manifest")
    assert man.where(F.col("merge_fan_in") > 1).count() >= len(rows)


def test_repack_keeps_the_index_block_size(spark, tmp_root):
    """A repack merge re-blocks to the index's own block size (meta.json
    config), not a fixed 128. "common" is in all 2,600 docs: ~44 source
    blocks over the 32 salt buckets, so some buckets re-block two source
    blocks (~128 docs) at once."""
    import pandas as pd

    n = 2600
    corpus = pd.DataFrame({
        "conv_id": [f"c{i:05d}" for i in range(n)],
        "turn_idx": [0] * n,
        "text": [f"common w{i % 7} x{i % 13}" for i in range(n)],
    })
    idx = f"{tmp_root}/idx_block64"
    cfg = IndexConfig(n_partitions=4, block_size=64, key_cols=("conv_id", "turn_idx"))
    build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    queries = ["common", "w3 x5", "common w1"]
    before = _results(IndexReader(spark, idx), queries)
    rows = tiered_merge(spark, idx, repack=True)
    assert len(rows) == 1
    posts = spark.read.parquet(f"{idx}/postings")
    assert posts.select("segment_id").distinct().collect()[0][0] == rows[0]["segment_id"]
    assert posts.agg(F.max("n_docs")).first()[0] == 64
    assert _results(IndexReader(spark, idx), queries) == before


def test_resume_skips_committed_and_is_byte_identical(spark, corpus_df, tmp_root):
    cfg = IndexConfig(n_partitions=4, **CFG)
    cold = f"{tmp_root}/idx_cold"
    build_index(spark, corpus_df, cold, cfg)

    warm = f"{tmp_root}/idx_warm"
    # simulate crash: only pids {0, 1} committed
    partial = build_index(spark, corpus_df, warm, cfg, only_pids={0, 1})
    assert partial.n_segments < 4
    committed_before = {
        r["segment_id"]
        for r in spark.read.parquet(f"{warm}/manifest").collect()
    }
    mtimes = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{warm}/postings/**/*.parquet", recursive=True)
    }
    res = build_index(spark, corpus_df, warm, cfg, resume=True)
    assert res.n_docs == build_index(spark, corpus_df, f"{tmp_root}/idx_cold2", cfg).n_docs
    # committed partitions were not rebuilt (files untouched)
    for f, t in mtimes.items():
        assert os.path.getmtime(f) == t, f
    committed_after = {
        r["segment_id"] for r in spark.read.parquet(f"{warm}/manifest").collect()
    }
    assert committed_before < committed_after
    # byte-identical to cold build
    assert _tree_hash(warm) == _tree_hash(cold)
    # and query-identical
    assert _results(IndexReader(spark, warm)) == _results(IndexReader(spark, cold))


def test_manifest_lineage_metrics(spark, corpus_df, tmp_root):
    idx = f"{tmp_root}/idx_lineage"
    cfg = IndexConfig(n_partitions=4, **CFG)
    res = build_index(spark, corpus_df, idx, cfg)
    man = spark.read.parquet(f"{idx}/manifest").toPandas()
    assert set(man.columns) >= {
        "partition_id", "segment_id", "status", "docs_indexed", "n_terms",
        "postings_bytes", "merge_fan_in", "checksum",
    }
    assert (man["status"] == "committed").all()
    assert man["docs_indexed"].sum() == res.n_docs
    assert (man["postings_bytes"] > 0).all()
    assert man["checksum"].str.len().eq(64).all()
