"""Document deletes — the liveDocs/tombstone analog (SURVEY.md §2.1).

Reference: Lucene marks deleted docs in a per-segment liveDocs bitset;
queries skip them, while corpus statistics (N, df, avgdl) keep counting
them (index/engine/internal/InternalEngine.java delete path + the .del
files Lucene 5 writes). The same contract here:

- ``delete_docs`` resolves a predicate to per-segment local-id tombstone
  lists written under ``deletes/segment_id=*/`` (immutable rewrite of a
  tiny file; union with any existing list — idempotent).
- every scorer masks tombstoned ids (same per-segment mask channel the
  filter context uses), so deleted docs can never be hits;
- BM25 statistics intentionally still include them — identical scores to
  Lucene-before-expunge, and partition-count invariant;
- ``index/merge.py`` rebases tombstones into the merged segment's id space
  (new_id = segment offset + old_id, the same rebase the postings get) and
  PRESERVES them: unlike a Lucene merge, repack never expunges deleted
  docs, so corpus stats (N, df, avgdl) keep counting tombstoned docs
  indefinitely. This is a deliberate divergence — it keeps scores
  partition-count- and merge-invariant; reclaiming space is a rebuild
  (filter the source and re-index), not a merge side effect.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elasticsearch_spark.index import fsio


def _seg_path(index_dir: str, seg: str) -> str:
    return fsio.join(index_dir, "deletes", f"segment_id={seg}", "data.parquet")


def read_deletes(index_dir: str, segment_id: str) -> np.ndarray:
    """Tombstoned local ids of one segment (sorted int64; empty if none)."""
    path = _seg_path(index_dir, segment_id)
    if not fsio.exists(path):
        return np.array([], dtype=np.int64)
    tbl = fsio.dataset(fsio.join(index_dir, "deletes", f"segment_id={segment_id}"))
    return np.sort(
        np.asarray(tbl.to_table(columns=["local_doc_id"])["local_doc_id"],
                   dtype=np.int64)
    )


def write_deletes(index_dir: str, segment_id: str, ids: np.ndarray) -> None:
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    tbl = pa.table({"local_doc_id": pa.array(ids, pa.int32())})
    fsio.write_table_deterministic(tbl, _seg_path(index_dir, segment_id))


def has_deletes(index_dir: str) -> bool:
    return fsio.exists(fsio.join(index_dir, "deletes"))


def delete_docs(reader, cond: Column) -> int:
    """Tombstone every doc matching ``cond``; returns newly-deleted count.

    One narrow columnar job resolves the predicate to per-segment id lists
    (same shape as the filter-context sets); the tiny tombstone files are
    rewritten with the union — replay/retry idempotent.
    """
    rows = (
        reader.docs()
        .where(F.coalesce(cond, F.lit(False)))
        .groupBy("segment_id")
        .agg(F.sort_array(F.collect_list("local_doc_id")).alias("ids"))
        .collect()
    )
    n_new = 0
    for r in rows:
        seg = r["segment_id"]
        existing = read_deletes(reader.index_dir, seg)
        new = np.asarray(r["ids"], dtype=np.int64)
        merged = np.union1d(existing, new)
        n_new += int(merged.size - existing.size)
        write_deletes(reader.index_dir, seg, merged)
    return n_new


def deletes_map(reader) -> dict[str, np.ndarray]:
    """segment_id -> tombstoned ids, {} when the index has no deletes."""
    out: dict[str, np.ndarray] = {}
    for name in fsio.list_dir(fsio.join(reader.index_dir, "deletes")):
        if name.startswith("segment_id="):
            seg = name[len("segment_id="):]
            out[seg] = read_deletes(reader.index_dir, seg)
    return out


def deletes_df(reader) -> DataFrame | None:
    """Spark view (segment_id, d_ids array<int>) or None when no deletes."""
    if not has_deletes(reader.index_dir):
        return None
    return (
        reader.spark.read.parquet(fsio.join(reader.index_dir, "deletes"))
        .groupBy("segment_id")
        .agg(F.sort_array(F.collect_list("local_doc_id")).alias("d_ids"))
    )


def live_docs(reader) -> DataFrame:
    """reader.docs() minus tombstoned rows (for filter/fetch-style reads)."""
    docs = reader.docs()
    d = deletes_df(reader)
    if d is None:
        return docs
    dead = d.select(
        "segment_id", F.explode("d_ids").alias("local_doc_id")
    )
    return docs.join(
        F.broadcast(dead), ["segment_id", "local_doc_id"], "left_anti"
    )
