"""Local-runner filter sets: pyarrow over the doc table == Spark.

The driver-local runner evaluates each filter context with pyarrow after
one Catalyst optimization (executor._local_filter_sets); a filter with a
node outside the translated set takes the Spark _filter_sets job alone.
Both must give the same per-segment id sets, and searches on the local
runner must equal the Spark runner row for row. Null semantics are pinned
by the nullable ``tool`` column (Not, IN, IS NULL, Coalesce, Kleene and/or).
"""

import datetime
import glob

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index
from elasticsearch_spark.index.aliases import alias_filter, put_alias
from elasticsearch_spark.ops import filters as fl
from elasticsearch_spark.query import executor, search_topk
from elasticsearch_spark.query.msearch import msearch_topk

from conftest import count_jobs

_UTC = datetime.timezone.utc


@pytest.fixture(scope="module")
def reader(spark, tmp_root):
    corpus = generate_transcripts(n_convs=40, seed=11)
    corpus["ts_tz"] = corpus["ts"]
    cfg = IndexConfig(
        key_cols=("conv_id", "turn_idx"),
        stored_cols=("role", "tool", "ts", "ts_tz"),
        n_partitions=3,
        dedup_latest_by="ts",
    )
    path = f"{tmp_root}/filter_sets_idx"
    build_index(spark, spark.createDataFrame(corpus), path, cfg)
    # the builder stores TIMESTAMP columns UTC-adjusted; annotate ts_tz with
    # another zone, which Spark still reads as `timestamp`
    for f in glob.glob(f"{path}/docs/*/*.parquet"):
        tbl = pq.read_table(f)
        i = tbl.schema.get_field_index("ts_tz")
        tz = pa.timestamp("us", tz="America/New_York")
        pq.write_table(tbl.set_column(i, pa.field("ts_tz", tz), tbl["ts_tz"].cast(tz)), f)
    put_alias(path, "late_assistant", "role = 'assistant' AND turn_idx >= 3")
    reader = IndexReader(spark, path)
    assert dict(reader.docs().dtypes)["ts_tz"] == "timestamp"
    return reader


def _zoo(reader):
    """(name, filter Column, takes the Spark fallback)."""
    mid = datetime.datetime(2025, 1, 1, 6, 0, 0)
    convs = [f"conv-{i:06d}" for i in range(0, 24, 2)]
    return [
        ("term", fl.term("role", "assistant"), False),
        ("term_case", F.col("ROLE") == "user", False),
        ("terms_in", fl.terms("tool", ["bash", "search"]), False),
        ("terms_inset", fl.terms("turn_idx", range(3, 20)), False),
        ("not_in", ~fl.terms("tool", ["bash", "search"]), False),
        ("not_inset", ~fl.terms("tool", [f"t{i}" for i in range(11)] + ["bash"]), False),
        ("range_int", fl.range_("turn_idx", gte=2, lt=9), False),
        ("range_ts", fl.range_("ts", gte=mid), False),
        ("range_ts_cast", F.col("ts") < F.lit("2025-01-01 03:30:00").cast("timestamp"), False),
        ("range_ts_tz", fl.range_("ts_tz", lt=mid.replace(tzinfo=_UTC)), False),
        ("ts_tz_cast", F.col("ts_tz") >= F.lit("2025-01-01 05:00:00").cast("timestamp"), False),
        ("exists", fl.exists("tool"), False),
        ("missing", fl.missing("tool"), False),
        ("not_nullable", ~(F.col("tool") == "browser"), False),
        ("kleene_or", (F.col("tool") == "bash") | (F.col("role") == "system"), False),
        ("kleene_not_and", ~((F.col("tool") != "bash") & (F.col("role") == "user")), False),
        ("bool_must_not", fl.bool_(must=[F.col("role") == "user"],
                                   must_not=[F.col("tool") == "search"]), False),
        ("not_", fl.not_(F.col("tool") == "search"), False),
        ("ids", fl.ids("conv_id", convs), False),
        ("alias", alias_filter(reader, "late_assistant"), False),
        ("lit_true", F.lit(True), False),
        ("lit_false", F.lit(False), False),
        ("rlike", F.col("role").rlike("^ass"), True),
        ("double", F.col("dl_eff") > 40.0, True),
        ("null_literal", F.col("tool") == F.lit(None), True),
    ]


def _as_sets(sets: dict) -> dict:
    return {seg: (mode, sorted(int(i) for i in ids)) for seg, (mode, ids) in sets.items()}


def test_filter_zoo_local_equals_spark(reader, monkeypatch):
    zoo = _zoo(reader)
    spark_sets = [
        _as_sets({r["segment_id"]: (r["f_mode"], r["f_ids"])
                  for r in executor._filter_sets(reader, fc).collect()})
        for _, fc, _ in zoo
    ]
    fell_back = []
    real = executor._filter_sets

    def spy(rdr, fc):
        fell_back.append(str(fc))
        return real(rdr, fc)

    monkeypatch.setattr(executor, "_filter_sets", spy)
    segments = reader.local_norms()["segment_id"].tolist()
    local = executor._local_filter_sets(reader, [fc for _, fc, _ in zoo], segments)
    for (name, _, _), want, got in zip(zoo, spark_sets, local):
        assert _as_sets(got) == want, name
    assert fell_back == [str(fc) for _, fc, spark in zoo if spark]
    # the zoo is not vacuous: some filters pass nothing, some everything
    sizes = [sum(len(ids) for _, ids in s.values()) for s in spark_sets]
    assert 0 in sizes and reader.n_docs in sizes and len(set(sizes)) > 10

    monkeypatch.undo()
    for name, fc, _ in zoo:
        got = search_topk(reader, "tok0003 tok0017 timeout", k=15,
                          filter_cond=fc, mode="local").collect()
        want = search_topk(reader, "tok0003 tok0017 timeout", k=15,
                           filter_cond=fc, mode="spark").collect()
        assert got == want, name
    via_alias = search_topk(reader, "tok0003 timeout", k=15,
                            alias="late_assistant", mode="local").collect()
    assert via_alias == search_topk(reader, "tok0003 timeout", k=15,
                                    alias="late_assistant", mode="spark").collect()
    assert via_alias


def test_translated_filters_launch_no_job(spark, reader):
    cond = (F.col("role") == "assistant") & fl.range_("ts", gte=datetime.datetime(2025, 1, 1, 2))
    search_topk(reader, "tok0003", filter_cond=cond).collect()  # warm the reader views
    assert count_jobs(spark, lambda: search_topk(reader, "tok0003 timeout", k=10,
                                                 filter_cond=cond))[0] == 0
    roles = ["user", "assistant", "tool", "system", None]
    specs = [
        {"query_text": f"tok{i:04d} timeout", "k": 5,
         "filter_cond": None if roles[i % 5] is None
         else (F.col("role") == roles[i % 5]) & (F.col("turn_idx") >= i % 4)}
        for i in range(25)
    ]
    n, _ = count_jobs(spark, lambda: msearch_topk(reader, specs))
    assert n == 0
    assert msearch_topk(reader, specs).collect() == msearch_topk(
        reader, specs, mode="spark").collect()
    must_not = fl.bool_(must=[F.col("role") == "user"], must_not=[F.col("tool") == "search"])
    assert count_jobs(spark, lambda: search_topk(reader, "tok0003 timeout", k=10,
                                                 filter_cond=must_not))[0] == 0
    rlike = F.col("role").rlike("^ass")
    assert count_jobs(spark, lambda: search_topk(reader, "tok0003", filter_cond=rlike))[0] >= 1
