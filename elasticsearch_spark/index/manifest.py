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
