"""Regression tests for the round-1 advisor findings (ADVICE.md r1).

1. Sloppy-phrase matching must not drop occurrences where a later phrase
   term sits before its phrase offset (position < term index) — slop
   queries near document start (executor.py anchor kernel, both the phrase
   scorer and the bool-scorer phrase clause).
2. build_index manifest append must be replay-idempotent (foreachBatch
   failure recovery re-runs a batch; stats must not double-count).
3. query_string AND-promotion must skip must_not clauses when searching
   backward for the clause to promote.
"""

import pandas as pd
import pytest

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.oracle import PyRefEngine
from elasticsearch_spark.query import phrase_topk, query_string_search
from elasticsearch_spark.query.ast import parse_query_string


def _corpus():
    texts = [
        "timeout error happened",              # transposed pair AT doc start
        "error then timeout follows here",     # forward displacement
        "a timeout matching error later on",   # backward displacement mid-doc
        "error timeout exact adjacency",       # exact match
        "nothing relevant in this row at all",
        "timeout on its own without the pair",
    ]
    return pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(len(texts))],
            "turn_idx": [0] * len(texts),
            "ts": pd.to_datetime(["2025-01-01"] * len(texts)),
            # alternate roles → a role filter is ~50% selective
            "role": ["user" if i % 2 == 0 else "assistant" for i in range(len(texts))],
            "tool": [""] * len(texts),
            "text": texts,
        }
    )


@pytest.fixture(scope="module")
def slop_setup(spark, tmp_root):
    corpus = _corpus()
    cfg = IndexConfig(stored_cols=("role",), n_partitions=2)
    idx = f"{tmp_root}/idx_advice_slop"
    build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    oracle = PyRefEngine(cfg.analyzer, cfg.bm25)
    for r in corpus.itertuples():
        oracle.index((r.conv_id, r.turn_idx), r.text, role=r.role)
    return IndexReader(spark, idx), oracle


@pytest.mark.parametrize("mode", ["local", "spark"])
@pytest.mark.parametrize(
    "text,slop",
    [
        ("error timeout", 2),   # must match the transposed doc-start doc c0
        ("error timeout", 1),
        ("error timeout", 0),
        ("error happened", 2),
        ("timeout error", 2),
    ],
)
def test_slop_matches_near_document_start(slop_setup, text, slop, mode):
    reader, oracle = slop_setup
    got = [
        ((r["conv_id"], r["turn_idx"]), r["score"])
        for r in phrase_topk(reader, text, k=10, slop=slop, mode=mode).collect()
    ]
    want = oracle.match_phrase(text, k=10, slop=slop)
    assert [g[0] for g in got] == [w[0] for w in want], (text, slop, mode)
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(b))


def test_slop_transposed_doc_start_is_hit(slop_setup):
    """The advisor's literal repro: 'timeout error happened' must be a hit
    for "error timeout"~2 (it was silently dropped before the fix)."""
    reader, _ = slop_setup
    keys = {r["conv_id"] for r in phrase_topk(reader, "error timeout", k=10, slop=2).collect()}
    assert "c0" in keys


@pytest.mark.parametrize("mode", ["local", "spark"])
def test_query_string_sloppy_phrase_near_start(slop_setup, mode):
    """Same anchor kernel inside _bool_kernel (phrase~N clause)."""
    reader, oracle = slop_setup
    q = '"error timeout"~2'
    got = [
        ((r["conv_id"], r["turn_idx"]), r["score"])
        for r in query_string_search(reader, q, k=10, mode=mode).collect()
    ]
    want = oracle.query_string(q, k=10)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert any(k[0] == "c0" for k, _ in got)


def test_and_promotion_skips_must_not():
    tok = lambda s: [w.lower() for w in s.split()]  # noqa: E731
    pq = parse_query_string("a -b AND c", tok)
    occs = [(c.occur, c.terms) for c in pq.clauses]
    # 'a' must be promoted to must (the AND skips over the must_not 'b')
    assert occs == [("must", ["a"]), ("must_not", ["b"]), ("must", ["c"])]
    # an existing must stops the backward scan without demoting anything
    pq2 = parse_query_string("+a AND b", tok)
    occs2 = [(c.occur, c.terms) for c in pq2.clauses]
    assert occs2 == [("must", ["a"]), ("must", ["b"])]


def test_build_replay_is_idempotent(spark, tmp_root):
    """Re-running the same batch build (same segment_prefix, same data) must
    not change corpus statistics: the manifest append skips already-committed
    segment ids, so n_docs/avgdl — and therefore every BM25 score — are
    stable under foreachBatch replay."""
    corpus = _corpus()
    cfg = IndexConfig(stored_cols=("role",), n_partitions=2)
    idx = f"{tmp_root}/idx_advice_replay"
    sdf = spark.createDataFrame(corpus)

    r1 = build_index(spark, sdf, idx, cfg, segment_prefix="b000001-")
    reader1 = IndexReader(spark, idx)
    hits1 = [tuple(r) for r in phrase_topk(reader1, "error timeout", k=10, slop=2).collect()]

    # replay the same micro-batch (failure recovery re-run)
    r2 = build_index(spark, sdf, idx, cfg, segment_prefix="b000001-")
    assert r2.n_docs == r1.n_docs
    assert r2.total_tokens == r1.total_tokens
    assert r2.n_segments == r1.n_segments

    man = spark.read.parquet(f"{idx}/manifest").toPandas()
    assert not man["segment_id"].duplicated().any()

    reader2 = IndexReader(spark, idx)
    assert reader2.n_docs == reader1.n_docs
    assert reader2.avgdl == reader1.avgdl
    hits2 = [tuple(r) for r in phrase_topk(reader2, "error timeout", k=10, slop=2).collect()]
    assert hits2 == hits1


@pytest.mark.parametrize("mode", ["local", "spark"])
def test_low_selectivity_filter_exact_and_small(slop_setup, mode, monkeypatch):
    """A ~50%-selectivity filter must stay exact AND ship only the smaller
    polarity per segment (never every passing id) — the deny-list path of
    _filter_sets."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.query import executor, search_topk

    reader, oracle = slop_setup
    cond = F.col("role") == "user"
    got = [
        ((r["conv_id"], r["turn_idx"]), r["score"])
        for r in search_topk(reader, "error timeout", k=10,
                             filter_cond=cond, mode=mode).collect()
    ]
    want = oracle.match("error timeout", k=10,
                        filter_fn=lambda d: d["role"] == "user")
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9 * max(1.0, abs(b))

    # the collected side is min(|pass|, |fail|) per segment
    seg_sizes = {
        r["segment_id"]: r["n_docs"]
        for r in reader.norms().select("segment_id", "n_docs").collect()
    }
    # force the two-pass polarity path (a 6-doc corpus takes the
    # small-corpus single-pass shortcut by default)
    monkeypatch.setattr(executor, "_FILTER_TWO_PASS_MIN_DOCS", 0)
    for r in executor._filter_sets(reader, cond).collect():
        assert len(r["f_ids"]) <= seg_sizes[r["segment_id"]] // 2 + 1, (
            r["segment_id"], r["f_mode"], len(r["f_ids"]),
        )


def test_filter_sets_polarity_and_exclusion(slop_setup, monkeypatch):
    """deny mode for an always-true filter (empty list), allow mode for a
    highly selective one, and total exclusion when nothing passes."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.query import executor, search_topk

    reader, _ = slop_setup
    # the small-corpus shortcut must produce the same allow semantics
    small = executor._filter_sets(reader, F.col("conv_id") == "c0").collect()
    assert all(r["f_mode"] == "allow" for r in small)
    assert sum(len(r["f_ids"]) for r in small) == 1

    # force the two-pass polarity path
    monkeypatch.setattr(executor, "_FILTER_TWO_PASS_MIN_DOCS", 0)
    rows = executor._filter_sets(reader, F.lit(True)).collect()
    assert rows and all(r["f_mode"] == "deny" and r["f_ids"] == [] for r in rows)

    rows = executor._filter_sets(reader, F.col("conv_id") == "c0").collect()
    assert all(r["f_mode"] == "allow" for r in rows)
    assert sum(len(r["f_ids"]) for r in rows) == 1

    assert executor._filter_sets(reader, F.lit(False)).count() == 0
    monkeypatch.undo()
    # nothing passes → zero hits, not an error
    assert search_topk(
        reader, "error timeout", k=10, filter_cond=F.lit(False)
    ).count() == 0
