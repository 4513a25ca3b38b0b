"""Batched _msearch == sequential search_topk, query by query.

Reference: action/search/MultiSearchRequest.java — each body in the batch
must return exactly what it would return as a standalone search.
"""

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts, reference_query_set
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.query import search_topk
from elasticsearch_spark.query.msearch import msearch_topk


@pytest.fixture(scope="module")
def reader(spark, tmp_root):
    corpus = generate_transcripts(n_convs=60, seed=42)
    cfg = IndexConfig(
        text_col="text",
        key_cols=("conv_id", "turn_idx"),
        stored_cols=("role", "tool", "ts"),
        n_partitions=4,
        dedup_latest_by="ts",
    )
    build_index(spark, spark.createDataFrame(corpus), f"{tmp_root}/msearch_idx", cfg)
    return IndexReader(spark, f"{tmp_root}/msearch_idx")


def _cond(f):
    conds = []
    if "role" in f:
        conds.append(F.col("role") == f["role"])
    if "tool" in f:
        conds.append(F.col("tool") == f["tool"])
    if "ts_min" in f:
        conds.append(F.col("ts") >= f["ts_min"])
    out = None
    for c in conds:
        out = c if out is None else (out & c)
    return out


def _specs():
    return [
        {
            "query_text": q["query_text"],
            "operator": q["operator"],
            "minimum_should_match": q["minimum_should_match"],
            "filter_cond": _cond(q.get("filters") or {}),
            "k": q["k"],
        }
        for q in reference_query_set()
    ]


@pytest.mark.parametrize("mode", ["auto", "spark"])
def test_msearch_matches_sequential(reader, mode):
    specs = _specs()
    batched = msearch_topk(reader, specs, mode=mode).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r["query_id"], []).append(r)

    checked = 0
    for qi, spec in enumerate(specs):
        want = search_topk(
            reader,
            spec["query_text"],
            k=spec["k"],
            operator=spec["operator"],
            minimum_should_match=spec["minimum_should_match"],
            filter_cond=spec["filter_cond"],
        ).collect()
        got = sorted(
            by_q.get(qi, []),
            key=lambda r: (-r["score"], r["conv_id"], r["turn_idx"]),
        )
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
            (r["conv_id"], r["turn_idx"]) for r in want
        ], f"rank mismatch for query {qi}: {spec['query_text']!r}"
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-12)
        checked += 1
    assert checked >= 50


def test_msearch_empty_and_unmatchable(reader):
    out = msearch_topk(
        reader,
        [
            {"query_text": "zzzznotaterm"},
            {"query_text": "zzzznotaterm tok0000", "operator": "and"},
        ],
        k=5,
    ).collect()
    assert out == []


def test_msearch_per_query_k(reader):
    out = msearch_topk(
        reader,
        [{"query_text": "tok0000", "k": 3}, {"query_text": "tok0000", "k": 7}],
    ).collect()
    n = {}
    for r in out:
        n[r["query_id"]] = n.get(r["query_id"], 0) + 1
    assert n[0] == 3 and n[1] == 7


def test_msearch_bounded_gather_identical(reader, monkeypatch):
    """A gather budget of 1 row forces the Spark-side per-query rank cut
    (the distributed-merge escape hatch); results must be identical to
    the unbounded driver-gather path, row for row."""
    import elasticsearch_spark.query.executor as ex

    specs = _specs()[:8]
    free = msearch_topk(reader, specs, mode="spark").collect()
    monkeypatch.setattr(ex, "_GATHER_MAX_ROWS", 1)  # force the hatch
    bounded = msearch_topk(reader, specs, mode="spark").collect()
    key = lambda r: (r["query_id"], -r["score"], r["conv_id"], r["turn_idx"])  # noqa: E731
    assert sorted(free, key=key) == sorted(bounded, key=key)
