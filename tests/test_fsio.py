"""Segment IO through the pyarrow.fs seam (index/store Directory analog).

The driver-side fast paths (deterministic segment writes, pruned termstats
reads, driver fetch) must work against any pyarrow FileSystem, not just
POSIX — exercised here with pyarrow's in-memory mock filesystem registered
under a fake scheme.
"""

import numpy as np
import pyarrow as pa
import pytest

from elasticsearch_spark.index import fsio


@pytest.fixture()
def mockfs():
    from pyarrow.fs import _MockFileSystem

    fs = _MockFileSystem()
    fsio.register("mock", fs)
    yield fs
    fsio.unregister("mock")


def test_resolve_local_and_uri(tmp_path):
    fs, p = fsio.resolve(str(tmp_path))
    assert p == str(tmp_path)
    fs2, p2 = fsio.resolve(f"file://{tmp_path}")
    assert p2 == str(tmp_path)
    assert fsio.is_local(str(tmp_path)) and fsio.is_local(f"file://{tmp_path}")
    assert not fsio.is_local("s3://bucket/x")
    assert not fsio.driver_readable("s3://bucket/x")


def test_write_read_roundtrip_mock(mockfs):
    tbl = pa.table({"term": ["a", "b"], "df": [1, 2]})
    fsio.write_table_deterministic(tbl, "mock://idx/termstats/data.parquet")
    assert fsio.exists("mock://idx/termstats/data.parquet")
    got = fsio.dataset("mock://idx/termstats").to_table()
    assert got.column("term").to_pylist() == ["a", "b"]
    # deterministic rewrite (task retry) is a clean overwrite
    fsio.write_table_deterministic(tbl, "mock://idx/termstats/data.parquet")
    assert fsio.dataset("mock://idx/termstats").to_table().num_rows == 2


def test_bytes_roundtrip_mock(mockfs):
    fsio.write_bytes("mock://idx/meta.json", b'{"n_docs": 3}')
    assert fsio.read_bytes("mock://idx/meta.json") == b'{"n_docs": 3}'


def test_segment_write_and_pruned_read_mock(mockfs):
    """The builder's segment writer + the reader's pruned termstats scan
    run unchanged against a non-POSIX filesystem."""
    from elasticsearch_spark.index.builder import _write_deterministic

    terms = [f"t{i:03d}" for i in range(100)]
    tbl = pa.table(
        {
            "term": pa.array(terms),
            "df": pa.array(np.arange(100), pa.int64()),
            "ttf": pa.array(np.arange(100) * 2, pa.int64()),
        }
    )
    _write_deterministic(tbl, "mock://idx2/termstats/data.parquet")
    import pyarrow.dataset as ds

    out = fsio.dataset("mock://idx2/termstats").to_table(
        filter=ds.field("term").isin(["t005", "t050"])
    )
    assert sorted(out.column("term").to_pylist()) == ["t005", "t050"]


def test_build_and_query_via_file_uri(spark, tmp_root):
    """Full build + search through a file:// URI index_dir (the fs layer
    carries every segment write, meta/manifest IO, and driver-side read)."""
    import pandas as pd

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.query import search_topk

    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(6)],
            "turn_idx": [0] * 6,
            "text": [
                "error timeout retry", "error handled fine", "timeout only",
                "retry storm error", "unrelated words here", "more filler text",
            ],
        }
    )
    uri = f"file://{tmp_root}/idx_uri"
    cfg = IndexConfig(n_partitions=2)
    r = build_index(spark, spark.createDataFrame(corpus), uri, cfg)
    assert r.n_docs == 6
    reader = IndexReader(spark, uri)
    hits = search_topk(reader, "error timeout", k=10).collect()
    assert len(hits) >= 3
    # resume on the URI path is a no-op (all pids committed)
    r2 = build_index(spark, spark.createDataFrame(corpus), uri, cfg, resume=True)
    assert r2.n_docs == 6


def test_snapshot_restore_roundtrip(spark, tmp_root, mockfs):
    """snapshot → restore must reproduce identical query results, and the
    snapshot can live on a non-POSIX store (mock fs) in between — the
    cross-store migration path."""
    import pandas as pd

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.index.snapshot import restore, snapshot
    from elasticsearch_spark.query import search_topk

    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(8)],
            "turn_idx": [0] * 8,
            "text": [
                "error timeout retry", "error handled", "timeout alone",
                "retry error storm", "filler one", "filler two",
                "error again here", "last timeout row",
            ],
        }
    )
    src = f"{tmp_root}/idx_snap_src"
    build_index(spark, spark.createDataFrame(corpus), src, IndexConfig(n_partitions=2))
    want = [tuple(r) for r in search_topk(IndexReader(spark, src), "error timeout", k=10).collect()]

    meta = snapshot(spark, src, "mock://snaps/s1")
    assert meta["segments"]
    dst = f"{tmp_root}/idx_snap_restored"
    restore("mock://snaps/s1", dst)
    got = [tuple(r) for r in search_topk(IndexReader(spark, dst), "error timeout", k=10).collect()]
    assert got == want


def test_snapshot_restore_preserves_deletes(spark, tmp_root, mockfs):
    """ADVICE r2 (high): snapshots must carry deletes/ — restoring must NOT
    resurrect tombstoned docs as hits."""
    import pandas as pd
    from pyspark.sql import functions as F

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.index.deletes import delete_docs
    from elasticsearch_spark.index.snapshot import restore, snapshot
    from elasticsearch_spark.query import search_topk

    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(6)],
            "turn_idx": [0] * 6,
            "text": [
                "error timeout retry", "error handled", "timeout alone",
                "retry error storm", "filler one", "error again here",
            ],
        }
    )
    src = f"{tmp_root}/idx_snapdel_src"
    build_index(spark, spark.createDataFrame(corpus), src, IndexConfig(n_partitions=2))
    reader = IndexReader(spark, src)
    assert delete_docs(reader, F.col("conv_id").isin(["c0", "c3"])) == 2
    want = {
        r["conv_id"]
        for r in search_topk(IndexReader(spark, src), "error timeout", k=10).collect()
    }
    assert not ({"c0", "c3"} & want)

    snapshot(spark, src, "mock://snaps/s_del")
    dst = f"{tmp_root}/idx_snapdel_restored"
    restore("mock://snaps/s_del", dst)
    got = {
        r["conv_id"]
        for r in search_topk(IndexReader(spark, dst), "error timeout", k=10).collect()
    }
    assert got == want  # tombstoned docs stay dead after restore


def test_merge_retires_segments_on_file_uri(spark, tmp_root):
    """ADVICE r2 (medium): segment retirement goes through fsio, so a merge
    on a file://-addressed index actually removes the input segment files —
    whole-directory readers must not double-count docs afterwards."""
    import pandas as pd

    from elasticsearch_spark.config import IndexConfig
    from elasticsearch_spark.index import IndexReader, build_index
    from elasticsearch_spark.index.merge import tiered_merge
    from elasticsearch_spark.query import search_topk

    corpus = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(8)],
            "turn_idx": [0] * 8,
            "text": [
                "error timeout retry", "error handled", "timeout alone",
                "retry error storm", "filler one", "filler two",
                "error again here", "last timeout row",
            ],
        }
    )
    uri = f"file://{tmp_root}/idx_merge_uri"
    build_index(spark, spark.createDataFrame(corpus), uri, IndexConfig(n_partitions=3))
    want = [
        (r["conv_id"], r["score"])
        for r in search_topk(IndexReader(spark, uri), "error timeout", k=10).collect()
    ]

    rows = tiered_merge(spark, uri)
    assert rows and rows[0]["merge_fan_in"] >= 2
    reader = IndexReader(spark, uri)
    # retired segment dirs are physically gone → no double counting
    import os

    local = uri[len("file://"):]
    seg_dirs = sorted(os.listdir(os.path.join(local, "postings")))
    assert seg_dirs == [f"segment_id={rows[0]['segment_id']}"]
    got = [
        (r["conv_id"], r["score"])
        for r in search_topk(reader, "error timeout", k=10).collect()
    ]
    assert got == want


def test_staged_file_is_hidden_until_renamed(spark, tmp_path, monkeypatch):
    """A write that dies between the parquet write and the rename leaves a
    staged file that neither pyarrow discovery nor Spark reads as data."""
    out = tmp_path / "tbl"
    fsio.write_table_deterministic(pa.table({"x": [1, 2]}), str(out / "part-1.parquet"))

    def crash(src, dst):
        raise OSError("killed before the rename")

    monkeypatch.setattr(fsio.os, "replace", crash)
    with pytest.raises(OSError):
        fsio.write_table_deterministic(pa.table({"x": [3]}), str(out / "part-2.parquet"))
    monkeypatch.undo()
    assert fsio.dataset(str(out)).count_rows() == 2
    assert spark.read.parquet(str(out)).count() == 2
    assert sorted(p.name for p in out.iterdir()) == [".part-2.parquet.tmp", "part-1.parquet"]
