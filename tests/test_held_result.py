"""Held top-k results (query/executor.py HeldResult).

Every top-k answer is a few rows the driver already holds, so the result is
a ``DataFrame`` holding them as an Arrow table: ``collect``, ``toPandas``,
``count`` and ``schema`` answer from it, and any other use builds the JVM
plan once, as a local relation of the held rows. Each result shape must
collect and convert exactly as ``spark.createDataFrame`` of the same rows
does, value for value and type for type, and collecting a search must make
no ``createDataFrame`` call and launch no Spark job.
"""

import datetime

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index, builder
from elasticsearch_spark.index.builder import dedup_latest
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import search_topk
from elasticsearch_spark.query.executor import HeldResult
from elasticsearch_spark.query.msearch import msearch_topk

from conftest import count_jobs

CFG = IndexConfig(stored_cols=("role", "tool", "ts", "ts_ntz"), n_partitions=4,
                  dedup_latest_by="ts")
STORED = ("role", "tool", "ts", "ts_ntz")


def _input(spark, seed=21, n_convs=40):
    corpus = generate_transcripts(n_convs=n_convs, seed=seed)
    return spark.createDataFrame(corpus).withColumn(
        "ts_ntz", F.col("ts").cast("timestamp_ntz"))


@pytest.fixture(scope="module")
def reader(spark, tmp_root):
    idx = f"{tmp_root}/held_result_idx"
    build_index(spark, _input(spark), idx, CFG)
    return IndexReader(spark, idx)


def _same(a, b):
    """Rows equal value for value and type for type."""
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x.asDict() == y.asDict()
        assert [type(v) for v in x] == [type(v) for v in y], (x, y)


def _parity(spark, held):
    """``held`` collects and converts as Spark's own frame of its rows."""
    assert isinstance(held, HeldResult) and isinstance(held, DataFrame)
    ref = spark.createDataFrame(held._table.to_pandas(), held.schema)
    _same(held.collect(), ref.collect())
    _same(held.take(2), ref.take(2))
    assert held.head() == ref.head() and held.first() == ref.first()
    assert held.count() == ref.count() and held.isEmpty() == ref.isEmpty()
    assert held.schema == ref.schema and held.columns == ref.columns
    pd.testing.assert_frame_equal(held.toPandas(), ref.toPandas())
    assert held.toArrow().equals(ref.toArrow())
    return ref


def _shapes(reader):
    q = "error timeout"
    return {
        "keys_only": lambda: search_topk(reader, q, k=10),
        "stored_with_nulls": lambda: search_topk(reader, q, k=25, extra_cols=("role", "tool")),
        "timestamps": lambda: search_topk(reader, q, k=10, extra_cols=("ts", "ts_ntz")),
        "msearch": lambda: msearch_topk(
            reader, [{"query_text": q}, {"query_text": "retry", "k": 3}],
            k=5, extra_cols=STORED),
        "empty": lambda: search_topk(reader, "zzzabsent", k=10, extra_cols=STORED),
        "spark_runner": lambda: search_topk(reader, q, k=10, extra_cols=STORED, mode="spark"),
    }


@pytest.mark.parametrize("shape", list(_shapes(None)))
def test_collect_and_to_pandas_match_spark(spark, reader, shape):
    held = _shapes(reader)[shape]()
    _parity(spark, held)
    rows = held.collect()
    if shape == "stored_with_nulls":
        assert any(r["tool"] is None for r in rows)
    if shape == "timestamps":
        assert isinstance(held.schema["ts"].dataType, TimestampType)
        assert isinstance(held.schema["ts_ntz"].dataType, TimestampNTZType)
        assert all(isinstance(r["ts"], datetime.datetime) for r in rows)
    if shape == "msearch":
        assert held.columns[0] == "query_id"
        assert {r["query_id"] for r in rows} == {0, 1}
    if shape == "empty":
        assert rows == [] and held.columns[-1] == "score"
    if shape != "empty":
        assert rows and type(rows[0]["turn_idx"]) is int


def test_timestamps_convert_in_another_session_time_zone(spark, reader):
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")
    try:
        held = search_topk(reader, "error timeout", k=10, extra_cols=("ts", "ts_ntz"))
        _parity(spark, held)
    finally:
        spark.conf.set(key, "UTC")


def test_chained_use_builds_the_plan_once(spark, reader):
    held = search_topk(reader, "error timeout", k=10, extra_cols=("role",))
    ref = spark.createDataFrame(held._table.to_pandas(), held.schema)
    _same(held.orderBy("score", "conv_id", "turn_idx").collect(),
          ref.orderBy("score", "conv_id", "turn_idx").collect())
    _same(held.withColumn("twice", F.col("score") * 2).collect(),
          ref.withColumn("twice", F.col("score") * 2).collect())
    other = spark.createDataFrame([("conv-000001", 1)], "conv_id string, n int")
    _same(held.join(other, "conv_id").collect(), ref.join(other, "conv_id").collect())
    assert held._jdf is held._jdf
    assert "LocalTableScan" in held._jdf.queryExecution().executedPlan().toString()


def _no_round_trip(spark, monkeypatch, fn):
    """(Spark jobs, createDataFrame calls) of ``fn().collect()``."""
    calls = []
    create = type(spark).createDataFrame
    monkeypatch.setattr(type(spark), "createDataFrame",
                        lambda self, *a, **kw: calls.append(a) or create(self, *a, **kw))
    n, rows = count_jobs(spark, lambda: fn().collect())
    monkeypatch.setattr(type(spark), "createDataFrame", create)
    return n, len(calls), rows


def test_collected_searches_launch_no_job(spark, reader, monkeypatch):
    words = ["error", "timeout", "retry", "tok0001", "tok0002", "tok0003"]
    batch = [{"query_text": f"{words[i % 6]} {words[(i + 1) % 6]}",
              "filter_cond": (F.col("role") == "assistant") if i % 3 == 0 else None}
             for i in range(25)]
    cases = {
        "unfiltered": lambda: search_topk(reader, "error timeout", k=10),
        "filtered": lambda: search_topk(reader, "error timeout", k=10,
                                        filter_cond=F.col("role") == "assistant"),
        "msearch_25": lambda: msearch_topk(reader, batch, k=10),
        "absent_term": lambda: search_topk(reader, "zzzabsent", k=10),
    }
    for name, fn in cases.items():
        n, created, rows = _no_round_trip(spark, monkeypatch, fn)
        assert (n, created) == (0, 0), name
        assert bool(rows) == (name != "absent_term"), name


def test_a_fresh_readers_first_filtered_search_launches_no_job(spark, reader):
    """Filter translation plans against the Spark docs view, which a reader
    builds on its first filtered query; on a driver-readable store it is
    read with the known schema, so Spark runs no schema-inference job."""
    fresh = IndexReader(spark, reader.index_dir)
    n, rows = count_jobs(spark, lambda: search_topk(
        fresh, "error timeout", k=10, filter_cond=F.col("role") == "assistant").collect())
    assert n == 0 and rows
    assert fresh.docs().schema == spark.read.parquet(f"{reader.index_dir}/docs").schema


# -- TIMESTAMP stored columns ------------------------------------------------


def test_timestamp_columns_are_stored_utc_adjusted(spark, reader, tmp_root, monkeypatch):
    """A TIMESTAMP input column stays TIMESTAMP (UTC-adjusted parquet), its
    values round-trip, and both merge paths keep it."""
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/New_York")  # wall times must not leak in
    try:
        df = _input(spark, seed=22, n_convs=30)
        want = sorted(dedup_latest(df, CFG).select("conv_id", "turn_idx", "ts").collect())
        for limit in (None, 0):  # driver merge, Spark merge
            if limit is not None:
                monkeypatch.setattr(builder, "_DRIVER_POSTINGS_LIMIT", limit)
            idx = f"{tmp_root}/held_result_tz_{limit}"
            build_index(spark, df, idx, CFG)
            for merged in (False, True):
                if merged:
                    assert tiered_merge(spark, idx, repack=False)
                r = IndexReader(spark, idx)
                assert isinstance(r.docs().schema["ts"].dataType, TimestampType)
                assert isinstance(r.docs().schema["ts_ntz"].dataType, TimestampNTZType)
                assert r.docs_schema() == r.docs().schema
                got = sorted(r.docs().select("conv_id", "turn_idx", "ts").collect())
                assert got == want, (limit, merged)
    finally:
        spark.conf.set(key, "UTC")


def test_timestamp_range_filters_stay_on_the_local_runner(spark, reader):
    """The benchmark's ``ts >= x`` and term + range filters translate to
    pyarrow over a TIMESTAMP column: no Spark job, the Spark runner's rows."""
    since = F.col("ts") >= F.lit("2025-01-01 03:00:00.000000").cast("timestamp")
    for cond in (since, since & (F.col("role") == "assistant")):
        n, rows = count_jobs(spark, lambda: search_topk(
            reader, "error timeout", k=10, filter_cond=cond, extra_cols=("ts",)).collect())
        assert n == 0
        assert rows and rows == search_topk(
            reader, "error timeout", k=10, filter_cond=cond, extra_cols=("ts",),
            mode="spark").collect()
