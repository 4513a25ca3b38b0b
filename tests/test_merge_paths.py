"""Index maintenance on the driver (index/merge.py, index/builder.py).

Under ``builder._DRIVER_POSTINGS_LIMIT`` a rebase merge, and under
``builder._DRIVER_SEGTERMS_LIMIT`` the termstats republish, run with pyarrow
on the driver and launch no Spark job; forcing a gate to 0 takes the Spark
path. Both paths must write equal tables
and answer queries identically. A merge commits its manifest row before it
deletes its inputs, and the next ``tiered_merge`` deletes what a crash left.
"""

import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index, builder, fsio, manifest, merge
from elasticsearch_spark.index.deletes import delete_docs
from elasticsearch_spark.index.merge import tiered_merge
from elasticsearch_spark.query import phrase_topk, search_topk

from conftest import count_jobs

CFG = IndexConfig(stored_cols=("role", "tool", "ts"), n_partitions=4, index_positions=True)
QUERIES = ["error timeout", "tok0001 tok0002 tok0003", "retry", "tok0000"]
PHRASES = ["error timeout", "tok0001 tok0002"]
SORT_KEYS = {
    "postings": ["term", "block_id"], "docs": ["local_doc_id"], "norms": ["n_docs"],
    "segterms": ["term"], "deletes": ["local_doc_id"],
}


@pytest.fixture(scope="module")
def base(spark, tmp_root):
    """A 4-segment positional index with tombstones."""
    idx = f"{tmp_root}/merge_paths_base"
    corpus = generate_transcripts(n_convs=40, seed=31)
    build_index(spark, spark.createDataFrame(corpus), idx, CFG)
    delete_docs(IndexReader(spark, idx), F.col("turn_idx") % 7 == 3)
    return idx


def _copy(base, dst):
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(base, dst)
    return dst


def _answers(spark, idx):
    reader = IndexReader(spark, idx)
    out = {}
    for q in QUERIES:
        out[q] = [(r["conv_id"], r["turn_idx"], round(r["score"], 10))
                  for r in search_topk(reader, q, k=10).collect()]
    for p in PHRASES:
        out[f'"{p}"'] = [(r["conv_id"], r["turn_idx"], round(r["score"], 10))
                         for r in phrase_topk(reader, p, k=10).collect()]
    return out


def _table(idx, sub, seg):
    path = fsio.join(idx, sub, f"segment_id={seg}")
    tbl = fsio.dataset(path, format="parquet").to_table()
    return tbl.sort_by([(c, "ascending") for c in SORT_KEYS[sub]])


def test_driver_and_spark_merges_write_equal_tables(spark, base, tmp_root, monkeypatch):
    want = _answers(spark, base)
    on_driver = _copy(base, f"{tmp_root}/merge_paths_driver")
    n, rows = count_jobs(spark, lambda: tiered_merge(spark, on_driver, repack=False))
    assert n == 0 and len(rows) == 1
    monkeypatch.setattr(builder, "_DRIVER_POSTINGS_LIMIT", 0)
    on_spark = _copy(base, f"{tmp_root}/merge_paths_spark")
    n, spark_rows = count_jobs(spark, lambda: tiered_merge(spark, on_spark, repack=False))
    assert n > 0 and spark_rows == rows
    seg = rows[0]["segment_id"]
    for sub in manifest.SEGMENT_TABLES:
        a, b = _table(on_driver, sub, seg), _table(on_spark, sub, seg)
        assert a.num_rows == b.num_rows > 0, sub
        for col in b.column_names:
            assert a[col].to_pylist() == b[col].to_pylist(), (sub, col)
    assert _answers(spark, on_driver) == _answers(spark, on_spark) == want
    # the driver writes one postings file in ~1 MB row groups, not 512 rows
    meta = pq.ParquetFile(f"{on_driver}/postings/segment_id={seg}/data.parquet").metadata
    assert meta.num_rows > 512 and meta.num_row_groups == 1


def test_termstats_republish_on_the_driver(spark, base, tmp_root, monkeypatch):
    idx = _copy(base, f"{tmp_root}/merge_paths_refresh")
    batch = spark.createDataFrame(generate_transcripts(n_convs=6, seed=32))
    jobs = []
    republish = builder._write_global_stats

    def counted(*a, **kw):
        n, _ = count_jobs(spark, lambda: republish(*a, **kw))
        jobs.append(n)

    monkeypatch.setattr(builder, "_write_global_stats", counted)
    build_index(spark, batch, idx, CFG, segment_prefix="b000001-")
    assert jobs == [0]
    on_driver = fsio.dataset(f"{idx}/termstats", format="parquet").to_table()
    # one row over the gate (Σ segterms rows) takes the Spark group-by
    live = manifest.active(manifest.read(idx))
    rows = int(live["n_terms"].sum())
    monkeypatch.setattr(builder, "_DRIVER_SEGTERMS_LIMIT", rows - 1)
    n, _ = count_jobs(spark, lambda: republish(
        spark, idx, CFG, int(live["docs_indexed"].sum()), int(live["sum_doc_len"].sum()), rows))
    assert n > 0
    on_spark = fsio.dataset(f"{idx}/termstats", format="parquet").to_table().sort_by("term")
    assert on_driver["term"].to_pylist() == sorted(on_driver["term"].to_pylist())
    for col in on_spark.column_names:
        assert on_driver[col].to_pylist() == on_spark[col].to_pylist(), col


def _crash_a_merge(spark, idx, monkeypatch):
    """tiered_merge that dies right after it deletes its first input dir."""
    inputs = manifest.active(manifest.read(idx))["segment_id"].tolist()
    delete_dir = fsio.delete_dir

    def crash_after_first_retire(path):
        delete_dir(path)
        if any(path.endswith(f"segment_id={s}") for s in inputs):
            raise RuntimeError("crash")

    monkeypatch.setattr(fsio, "delete_dir", crash_after_first_retire)
    with pytest.raises(RuntimeError):
        tiered_merge(spark, idx, repack=False)
    monkeypatch.setattr(fsio, "delete_dir", delete_dir)
    return idx


@pytest.mark.parametrize("limit", [None, 0], ids=["driver", "spark"])
def test_a_crash_before_retirement_leaves_a_clean_index(spark, base, tmp_root, monkeypatch, limit):
    """The first delete of an input segment's dir completes, then the merge
    dies. The merged row is already committed: a rerun of tiered_merge
    deletes the leftover dirs and ends where a clean merge ends."""
    if limit is not None:
        monkeypatch.setattr(builder, "_DRIVER_POSTINGS_LIMIT", limit)
    clean = _copy(base, f"{tmp_root}/merge_paths_clean_{limit}")
    tiered_merge(spark, clean, repack=False)
    want_active = manifest.active(manifest.read(clean))["segment_id"].tolist()

    idx = _crash_a_merge(spark, _copy(base, f"{tmp_root}/merge_paths_crash_{limit}"), monkeypatch)

    assert tiered_merge(spark, idx, repack=False) == []
    assert manifest.active(manifest.read(idx))["segment_id"].tolist() == want_active
    for sub in manifest.SEGMENT_TABLES:
        left = {n for n in fsio.list_dir(f"{idx}/{sub}") if n.startswith("segment_id=")}
        assert left <= {f"segment_id={s}" for s in want_active}, sub
    assert _answers(spark, idx) == _answers(spark, clean) == _answers(spark, base)


def test_readers_see_only_the_active_segments_after_a_crashed_merge(spark, base, tmp_root, monkeypatch):
    """Until the leftovers are deleted, the superseded segments' files stay
    on disk beside the merged one; both runners read the active set only,
    also through a reader opened before the crash."""
    clean = _copy(base, f"{tmp_root}/merge_paths_active_clean")
    tiered_merge(spark, clean, repack=False)
    idx = _copy(base, f"{tmp_root}/merge_paths_active_crash")
    before = IndexReader(spark, idx)
    search_topk(before, QUERIES[0], k=10, mode="local").collect()  # layout cached
    _crash_a_merge(spark, idx, monkeypatch)
    for reader in (IndexReader(spark, idx), before):
        assert reader.docs().count() == reader.n_docs
        for q in QUERIES:
            local, on_spark, want = (
                [(r["conv_id"], r["turn_idx"], round(r["score"], 10))
                 for r in search_topk(rd, q, k=10, mode=m).collect()]
                for rd, m in ((reader, "local"), (reader, "spark"),
                              (IndexReader(spark, clean), "auto")))
            assert local == on_spark == want, q


def test_a_refresh_after_a_crashed_merge_counts_each_doc_once(spark, base, tmp_root, monkeypatch):
    """A refresh build deletes the dirs the crash left before it republishes
    termstats, so whole-directory readers see every doc once."""
    idx = _crash_a_merge(spark, _copy(base, f"{tmp_root}/merge_paths_crash_refresh"), monkeypatch)
    batch = spark.createDataFrame(generate_transcripts(n_convs=6, seed=33))
    build_index(spark, batch, idx, CFG, segment_prefix="b000001-")
    reader = IndexReader(spark, idx)
    assert reader.docs().count() == reader.n_docs
    active = manifest.active(manifest.read(idx))["segment_id"].tolist()
    segterms = fsio.dataset(f"{idx}/segterms", format="parquet", partitioning="hive").to_table()
    assert sorted(set(segterms["segment_id"].to_pylist())) == active
    stats = fsio.dataset(f"{idx}/termstats", format="parquet").to_table()
    assert stats.equals(builder.sum_term_stats(segterms.drop_columns(["segment_id"])))


def test_above_the_gate_the_rebase_runs_in_spark(spark, base, tmp_root, monkeypatch):
    """A group over the gate takes the Spark path, and so does every repack."""
    seen = []
    spark_merge = merge._merge_on_spark
    monkeypatch.setattr(merge, "_merge_on_spark", lambda *a: seen.append(a[-1]) or spark_merge(*a))
    monkeypatch.setattr(builder, "_DRIVER_POSTINGS_LIMIT", int(
        manifest.active(manifest.read(base))["postings_bytes"].sum()) - 1)
    tiered_merge(spark, _copy(base, f"{tmp_root}/merge_paths_over"), repack=False)
    monkeypatch.setattr(builder, "_DRIVER_POSTINGS_LIMIT", 1 << 40)
    tiered_merge(spark, _copy(base, f"{tmp_root}/merge_paths_repack"), repack=True)
    assert seen == [False, True]
