"""The segment stage on the driver and in Spark (index/builder.py).

Under ``builder._DRIVER_BUILD_BYTES`` (Catalyst's size estimate of the
input) a build runs its segment stage in this process after one
``toArrow()``; forcing the gate to 0 takes the Spark stage (keep-latest
window, routing shuffle, mapInPandas). Both must write the same files, byte
for byte: segments, manifest rows, termstats and meta.json.
"""

import os
import shutil

import pandas as pd
import pytest

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import build_index, builder

from conftest import count_jobs

CONFIGS = {
    "positional": IndexConfig(stored_cols=("role", "tool", "ts"), n_partitions=4,
                              dedup_latest_by="ts"),
    "docs_only_b64": IndexConfig(stored_cols=("role", "ts"), n_partitions=3,
                                 index_positions=False, block_size=64,
                                 dedup_latest_by="ts"),
}


@pytest.fixture(scope="module")
def corpus():
    """Transcripts (TIMESTAMP ``ts`` stored) with late duplicates that are
    newer, older or undated than the row they repeat, and docs whose text
    analyzes to no token."""
    c = generate_transcripts(n_convs=40, seed=61)
    dup = c.iloc[[3, 50, 120]].copy()
    dup["text"] = dup["text"] + " lateversion"
    dup["ts"] = dup["ts"] + pd.to_timedelta([1, -1, 0], unit="h")
    dup.iloc[2, dup.columns.get_loc("ts")] = pd.NaT
    c.loc[[7, 8, 200], "text"] = ["", None, "... !!"]
    return pd.concat([c, dup], ignore_index=True)


def _tree(idx):
    """relative path -> bytes, every file of an index."""
    out = {}
    for root, _, files in os.walk(idx):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, idx)] = open(p, "rb").read()
    return out


def _both(spark, tmp_root, name, monkeypatch, steps):
    """Run ``steps(idx)`` on the driver and, gate forced to 0, in Spark;
    return (driver tree, Spark tree, the driver steps' job counts)."""
    trees, jobs = [], []
    for path in ("driver", "spark"):
        idx = f"{tmp_root}/build_paths_{name}_{path}"
        shutil.rmtree(idx, ignore_errors=True)
        if path == "spark":
            monkeypatch.setattr(builder, "_DRIVER_BUILD_BYTES", 0)
        jobs.append(steps(idx))
        trees.append(_tree(idx))
    monkeypatch.undo()
    return trees[0], trees[1], jobs


@pytest.mark.parametrize("name", list(CONFIGS))
def test_both_paths_write_the_same_bytes(spark, corpus, tmp_root, monkeypatch, name):
    cfg = CONFIGS[name]
    df = spark.createDataFrame(corpus)
    assert builder._plan_bytes(df) <= builder._DRIVER_BUILD_BYTES

    def steps(idx):
        n, res = count_jobs(spark, lambda: build_index(spark, df, idx, cfg))
        assert res.n_docs == len(corpus.drop_duplicates(["conv_id", "turn_idx"]))
        return n

    on_driver, on_spark, (driver_jobs, spark_jobs) = _both(
        spark, tmp_root, name, monkeypatch, steps)
    assert driver_jobs <= 1 < spark_jobs
    assert sorted(on_driver) == sorted(on_spark)
    assert any(p.startswith("manifest/") for p in on_driver)
    assert any(p.startswith("termstats/") for p in on_driver)
    for p in on_spark:
        assert on_driver[p] == on_spark[p], p


def test_a_max_docs_split_falls_where_spark_puts_it(spark, corpus, tmp_root, monkeypatch):
    """Segments split on Arrow batch boundaries: with 25-row batches and
    max_docs_per_segment=60 a pid of ~100 rows becomes two segments."""
    cfg = CONFIGS["positional"]
    df = spark.createDataFrame(corpus)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "25")
    try:
        on_driver, on_spark, _ = _both(spark, tmp_root, "split", monkeypatch, lambda idx: (
            build_index(spark, df, idx, cfg, max_docs_per_segment=60)))
    finally:
        spark.conf.unset(key)
    assert sum(p.startswith("norms/segment_id=00000-001") for p in on_driver) == 1
    assert on_driver == on_spark


def test_resume_and_replayed_refreshes(spark, corpus, tmp_root, monkeypatch):
    """A crash between pid commits (``only_pids``) resumed, a resume with
    nothing left to build, then a refresh batch landed twice under one
    ``segment_prefix``: the replay appends no row, and both paths end with
    the same bytes."""
    cfg = CONFIGS["positional"]
    df = spark.createDataFrame(corpus)
    batch = spark.createDataFrame(generate_transcripts(n_convs=8, seed=62))

    def steps(idx):
        build_index(spark, df, idx, cfg, only_pids={0, 2})
        build_index(spark, df, idx, cfg, resume=True)
        assert build_index(spark, df, idx, cfg, resume=True).n_segments == 4
        n = [count_jobs(spark, lambda: build_index(spark, batch, idx, cfg,
                                                   segment_prefix="b000001-"))[0]
             for _ in range(2)]
        return n

    on_driver, on_spark, (driver_jobs, _) = _both(spark, tmp_root, "resume", monkeypatch, steps)
    assert max(driver_jobs) <= 1
    assert sum(p.startswith("manifest/") for p in on_driver) == 3
    assert on_driver == on_spark


def test_inputs_over_the_gate_take_the_spark_stage(spark, corpus, tmp_root, monkeypatch):
    """One byte under the input's estimate, and an RDD-backed frame (whose
    size Catalyst does not know), build in Spark."""
    cfg = CONFIGS["positional"]
    df = spark.createDataFrame(corpus)
    seen = []
    spark_stage = builder._segments_on_spark
    monkeypatch.setattr(builder, "_segments_on_spark",
                        lambda *a: seen.append(True) or spark_stage(*a))
    monkeypatch.setattr(builder, "_DRIVER_BUILD_BYTES", builder._plan_bytes(df) - 1)
    build_index(spark, df, f"{tmp_root}/build_paths_over", cfg)
    monkeypatch.undo()
    monkeypatch.setattr(builder, "_segments_on_spark",
                        lambda *a: seen.append(True) or spark_stage(*a))
    from_rdd = spark.createDataFrame(df.rdd, df.schema)
    assert builder._plan_bytes(from_rdd) > builder._DRIVER_BUILD_BYTES
    build_index(spark, from_rdd, f"{tmp_root}/build_paths_rdd", cfg)
    assert seen == [True, True]
    assert _tree(f"{tmp_root}/build_paths_over") == _tree(f"{tmp_root}/build_paths_rdd")


def test_pid_filter_follows_the_dedup(spark, corpus, tmp_root, monkeypatch):
    """Under a ``routing_col`` outside the keys, a newer version of a key
    that routes to a pid ``only_pids`` leaves out drops the key: the older
    version, in a kept pid, is not indexed in its place."""
    from pyspark.sql import functions as F

    cfg = IndexConfig(stored_cols=("role", "ts"), n_partitions=4,
                      dedup_latest_by="ts", routing_col="route")
    base = corpus.assign(route=corpus["conv_id"].astype(str))
    old = base.iloc[[3]]
    routes = [old["route"].iloc[0], *(f"r{i}" for i in range(8))]
    pids = dict(spark.createDataFrame([(r,) for r in routes], "route string").select(
        "route", F.pmod(F.hash("route"), F.lit(4))).collect())
    new_route = next(r for r in routes if pids[r] != pids[old["route"].iloc[0]])
    newer = old.assign(route=new_route, ts=old["ts"] + pd.Timedelta(hours=2))
    df = spark.createDataFrame(pd.concat([base, newer], ignore_index=True))
    only = set(range(4)) - {pids[new_route]}

    def steps(idx):
        return build_index(spark, df, idx, cfg, only_pids=only).n_docs

    on_driver, on_spark, (driver_docs, spark_docs) = _both(
        spark, tmp_root, "routed", monkeypatch, steps)
    assert driver_docs == spark_docs
    assert on_driver == on_spark
