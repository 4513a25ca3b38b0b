"""The shared query flow (plan → per-segment kernel → gather → fetch):
the driver-local runner answers on merged segments, the lenient
simple_query_string fallback keeps the caller's options, and an empty
result has the same schema as a non-empty one."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.index.deletes import delete_docs
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import (
    fuzzy_search_topk,
    phrase_topk,
    search_topk,
    simple_query_string_search,
)
from elasticsearch_spark.query import executor as ex


def _index(spark, path):
    corpus = generate_transcripts(n_convs=50, seed=23)
    cfg = IndexConfig(
        stored_cols=("role", "tool", "ts"), n_partitions=4, dedup_latest_by="ts"
    )
    build_index(spark, spark.createDataFrame(corpus), path, cfg)
    return IndexReader(spark, path)


@pytest.fixture(scope="module")
def reader(spark, tmp_root):
    return _index(spark, f"{tmp_root}/pipeline_idx")


@pytest.fixture(scope="module")
def merged(spark, tmp_root):
    path = f"{tmp_root}/pipeline_merged_idx"
    _index(spark, path)
    tiered_merge(spark, path, fan_in=2, repack=False)
    delete_docs(IndexReader(spark, path), F.col("turn_idx") == 1)
    return IndexReader(spark, path)


def _ranked(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize(
    "run",
    [
        lambda r, mode: search_topk(r, "error timeout retry", k=10, mode=mode),
        lambda r, mode: phrase_topk(r, "tok0000 tok0001", k=10, mode=mode),
        lambda r, mode: search_topk(
            r, "error data", k=10, filter_cond=F.col("role") == "assistant",
            extra_cols=["role"], mode=mode,
        ),
    ],
    ids=["match", "phrase", "filtered"],
)
def test_local_runner_answers_after_merge(merged, monkeypatch, run):
    """Merged segments store docs as part-*.parquet; the fetch must still
    read them driver-side instead of falling back to the Spark runner."""
    manifest = merged.manifest().toPandas()
    assert manifest["segment_id"].str.startswith("m-").any()
    answered = []
    local = ex._local_search

    def spy(*a, **kw):
        out = local(*a, **kw)
        answered.append(out is not None)
        return out

    monkeypatch.setattr(ex, "_local_search", spy)
    got = _ranked(run(merged, "local"))
    assert answered == [True]
    want = _ranked(run(merged, "spark"))
    assert got == want and len(want) > 0


def test_simple_query_string_fallback_keeps_options(reader):
    """``ts:[1 TO`` is malformed, so query_string raises and the lenient
    fallback runs — with the caller's filter and columns."""
    query = "error ts:[1 TO"
    with pytest.raises(Exception):
        ex.query_string_search(reader, query, k=10)
    out = simple_query_string_search(
        reader, query, k=10, filter_cond=F.col("role") == "assistant",
        extra_cols=["role"],
    )
    assert "role" in out.columns
    rows = out.collect()
    assert rows and all(r["role"] == "assistant" for r in rows)


def test_empty_result_schema_matches_non_empty(reader):
    hit = fuzzy_search_topk(reader, "eror", fuzziness=1, extra_cols=["role"])
    assert hit.count() > 0
    miss = fuzzy_search_topk(reader, "qqqqqqqq", fuzziness=1, extra_cols=["role"])
    assert miss.collect() == []
    assert miss.schema == hit.schema
