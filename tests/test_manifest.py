"""The manifest (index/manifest.py): one reader, one append and one
active-set rule for every caller — build, merge and snapshot — read and
written on the driver with pyarrow, no Spark job.

Indexes written before the module keep Spark-written ``part-*`` manifest
files; those must stay readable beside the new pyarrow-written appends.
"""

import shutil

import pytest
from pyarrow import fs as pafs
from pyspark.sql import functions as F

from elasticsearch_spark.config import IndexConfig
from elasticsearch_spark.fixtures import generate_transcripts
from elasticsearch_spark.index import IndexReader, build_index, fsio, manifest
from elasticsearch_spark.index.merge import plan_merges, tiered_merge
from elasticsearch_spark.index.snapshot import restore, snapshot
from elasticsearch_spark.query import search_topk

from conftest import count_jobs

CFG = IndexConfig(stored_cols=("role",), n_partitions=3)
QUERIES = ["error timeout", "tok0001 tok0002", "retry"]
# the on-disk manifest schema as earlier indexes wrote it through Spark
SPARK_WRITTEN_DDL = (
    "partition_id int, segment_id string, status string, docs_indexed long, "
    "n_terms long, postings_bytes long, sum_doc_len long, merge_fan_in int, "
    "checksum string"
)


@pytest.fixture(scope="module")
def batches(spark):
    corpus = generate_transcripts(n_convs=40, seed=23)
    first = corpus["conv_id"] < "conv-000020"
    a = spark.createDataFrame(corpus[first])
    b = spark.createDataFrame(corpus[~first])
    a.count(), b.count()
    return a, b


def _results(reader):
    return {
        q: [(r["conv_id"], r["turn_idx"], round(r["score"], 10))
            for r in search_topk(reader, q, k=10).collect()]
        for q in QUERIES
    }


def _spark_active_count(spark, index_dir) -> int:
    """Committed minus superseded segments, counted from a Spark read of the
    manifest directory (the count perfbench's refresh loop makes)."""
    man = spark.read.parquet(f"{index_dir}/manifest")
    committed = man.where(F.col("status") == "committed").select("segment_id").distinct()
    superseded = man.where(F.col("status") == "superseded").select("segment_id").distinct()
    return committed.count() - superseded.count()


def _docs_on_disk(index_dir) -> int:
    return fsio.dataset(f"{index_dir}/docs", partitioning="hive").count_rows()


def test_duplicated_committed_row_counts_once(spark, batches, tmp_root):
    a, b = batches
    idx = f"{tmp_root}/manifest_dup"
    build_index(spark, a, idx, CFG)
    # one committed row lands twice (e.g. a replayed Spark append)
    mdir = f"{idx}/manifest"
    spark.read.parquet(mdir).limit(1).coalesce(1).write.mode("append").parquet(mdir)
    assert manifest.read(idx)["segment_id"].duplicated().any()

    built = build_index(spark, b, idx, CFG, segment_prefix="b000001-")
    live = manifest.active(manifest.read(idx))["segment_id"].tolist()
    snap = snapshot(spark, idx, f"{tmp_root}/manifest_dup_snap")
    planned = plan_merges(manifest.active(manifest.read(idx)), fan_in=100)
    assert built.n_segments == len(live) == len(snap["segments"]) == len(planned[0])
    assert sorted(planned[0]) == snap["segments"] == live
    assert built.n_docs == _docs_on_disk(idx)

    before = _results(IndexReader(spark, idx))
    rows = tiered_merge(spark, idx, fan_in=4)
    assert rows and all(r["merge_fan_in"] > 1 for r in rows)
    reader = IndexReader(spark, idx)
    assert _docs_on_disk(idx) == reader.n_docs == built.n_docs
    assert _results(reader) == before


def test_manifest_io_launches_no_job(spark, batches, tmp_root):
    a, b = batches
    idx = f"{tmp_root}/manifest_jobs"
    build_index(spark, a, idx, CFG, segment_prefix="b000000-")

    n, man = count_jobs(spark, lambda: manifest.read(idx))
    assert n == 0 and len(manifest.active(man)) == len(man) > 0
    n, snap = count_jobs(spark, lambda: snapshot(spark, idx, f"{tmp_root}/manifest_jobs_snap"))
    assert n == 0 and snap["segments"] == sorted(man["segment_id"])

    scratch = f"{tmp_root}/manifest_jobs_scratch"
    rows = man.head(2).to_dict("records")
    n, _ = count_jobs(spark, lambda: manifest.append(scratch, rows))
    assert n == 0
    # a replayed append rewrites the same file
    manifest.append(scratch, rows)
    fs, root = fsio.resolve(f"{scratch}/manifest")
    files = [i.path for i in fs.get_file_info(pafs.FileSelector(root))]
    assert len(files) == 1
    assert manifest.read(scratch).equals(man.head(2).reset_index(drop=True))

    # a refresh: the segment stage and the termstats rewrite, nothing else
    # (eleven jobs when three manifest reads and the append went through Spark)
    n, built = count_jobs(spark, lambda: build_index(spark, b, idx, CFG, segment_prefix="b000001-"))
    assert n <= 6, n
    assert built.n_segments == len(manifest.active(manifest.read(idx)))
    # a merge pass with nothing to merge launches nothing
    single = f"{tmp_root}/manifest_jobs_single"
    build_index(spark, a, single, IndexConfig(stored_cols=("role",), n_partitions=1))
    n, merged = count_jobs(spark, lambda: tiered_merge(spark, single))
    assert n == 0 and merged == []


def test_spark_written_manifest_still_works(spark, batches, tmp_root):
    a, b = batches
    idx = f"{tmp_root}/manifest_legacy"
    build_index(spark, a, idx, CFG)
    # rewrite the manifest as an earlier build left it: Spark part files
    mdir = f"{idx}/manifest"
    legacy = spark.read.parquet(mdir).toPandas()
    shutil.rmtree(mdir)
    spark.createDataFrame(legacy, SPARK_WRITTEN_DDL).coalesce(1).write.parquet(mdir)
    assert manifest.read(idx).sort_values("segment_id", ignore_index=True).equals(
        legacy.sort_values("segment_id", ignore_index=True))

    built = build_index(spark, b, idx, CFG, segment_prefix="b000001-")
    assert built.n_segments == _spark_active_count(spark, idx) == 6
    assert built.n_docs == _docs_on_disk(idx)
    before = _results(IndexReader(spark, idx))

    rows = tiered_merge(spark, idx, fan_in=4)
    assert len(rows) == 2
    assert _spark_active_count(spark, idx) == len(manifest.active(manifest.read(idx))) == 2
    assert IndexReader(spark, idx).manifest().count() == len(manifest.read(idx))
    assert _results(IndexReader(spark, idx)) == before

    snap = snapshot(spark, idx, f"{tmp_root}/manifest_legacy_snap")
    dst = f"{tmp_root}/manifest_legacy_restored"
    restore(f"{tmp_root}/manifest_legacy_snap", dst)
    assert _spark_active_count(spark, dst) == len(snap["segments"]) == 2
    assert _docs_on_disk(dst) == built.n_docs
    assert _results(IndexReader(spark, dst)) == before
