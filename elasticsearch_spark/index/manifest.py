"""The manifest: an index's commit point (Lucene's ``segments_N``, read and
written through one class there, ``SegmentInfos``).

An append-only log of segment rows under ``manifest/``. A build appends one
``committed`` row per new segment; a merge appends its merged segment's
row plus one ``superseded`` row per input. A segment is *active* when it
has a committed row and no superseded row.

Every read, append and active-set resolution goes through this module, on
the driver with pyarrow via ``fsio`` — no Spark job. Each append is one
parquet file named by a hash of its rows, so a replayed append rewrites the
same file. Older indexes hold Spark-written ``part-*`` files with the same
schema in the same directory; both kinds are read together.

Segment files are deleted here too (``retire``), once the manifest no
longer lists them as active, like Lucene's IndexFileDeleter.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import from_arrow_schema

from elasticsearch_spark.index import fsio

SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("segment_id", pa.string()),
    ("status", pa.string()),
    ("docs_indexed", pa.int64()),
    ("n_terms", pa.int64()),
    ("postings_bytes", pa.int64()),
    ("sum_doc_len", pa.int64()),
    ("merge_fan_in", pa.int32()),
    ("checksum", pa.string()),
])
SPARK_SCHEMA = from_arrow_schema(SCHEMA)  # the segment stage's output rows
# the per-segment tables, each one ``<table>/segment_id=<id>/`` dir a segment
SEGMENT_TABLES = ("postings", "docs", "norms", "segterms", "deletes")


def _dir(index_dir: str) -> str:
    return fsio.join(index_dir, "manifest")


def read(index_dir: str) -> pd.DataFrame:
    """Every manifest row, in no particular order (empty when none)."""
    path = _dir(index_dir)
    if not fsio.exists(path):
        return SCHEMA.empty_table().to_pandas()
    return fsio.dataset(path, format="parquet", schema=SCHEMA).to_table().to_pandas()


def committed(man: pd.DataFrame) -> pd.DataFrame:
    """Rows of every segment ever committed, superseded ones included."""
    return man[man["status"] == "committed"]


def active(man: pd.DataFrame) -> pd.DataFrame:
    """One row per active segment, in segment_id order."""
    superseded = man.loc[man["status"] == "superseded", "segment_id"]
    live = committed(man)
    return (
        live[~live["segment_id"].isin(superseded)]
        .drop_duplicates(subset=["segment_id"])  # a replayed row counts once
        .sort_values("segment_id", ignore_index=True)
    )


def append(index_dir: str, rows: list[dict]) -> None:
    """Append ``rows`` (dicts with SCHEMA's fields) as one parquet file."""
    tbl = pa.Table.from_pylist(rows, schema=SCHEMA)
    digest = hashlib.sha256(
        json.dumps(tbl.to_pylist(), sort_keys=True).encode()
    ).hexdigest()[:32]
    fsio.write_table_deterministic(
        tbl, fsio.join(_dir(index_dir), f"part-{digest}.parquet")
    )


def retire(index_dir: str, segs) -> None:
    """Delete every table dir of ``segs``. Routed through fsio so it works
    on file:// / object-store URIs too: readers scan whole table dirs, so a
    silently no-op'd local rmtree on a URI store would leave the old
    segment files visible and double-count every doc."""
    for sub in SEGMENT_TABLES:
        for s in segs:
            fsio.delete_dir(fsio.join(index_dir, sub, f"segment_id={s}"))


def retire_superseded(index_dir: str, man: pd.DataFrame) -> None:
    """Delete the dirs of superseded segments that are still on disk (a
    merge that died between its commit and its retirement)."""
    superseded = set(man.loc[man["status"] == "superseded", "segment_id"])
    on_disk = {
        name[len("segment_id="):]
        for sub in SEGMENT_TABLES
        for name in fsio.list_dir(fsio.join(index_dir, sub))
        if name.startswith("segment_id=")
    }
    retire(index_dir, sorted(superseded & on_disk))
