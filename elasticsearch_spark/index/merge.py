"""Tiered segment merge with salt-aware hot-term handling.

Reference semantics: TieredMergePolicy — max_merge_at_once 10,
segments_per_tier 10, floor 2MB (/root/reference/src/main/java/org/
elasticsearch/index/merge/policy/TieredMergePolicyProvider.java:37-66).
Small segments are repeatedly combined fan-in≤10 into larger ones; merge
metrics (fan-in) are recorded per merged segment
(index/merge/MergeStats.java:36 analog → manifest rows).

Spark-first design — two key departures from a naive "shuffle by term":

1. **Rebase, don't rebuild.** Merged doc ids = per-segment offset + old
   local id, segments ordered by segment_id. (Key order may interleave
   across former segment boundaries — that's fine: the query gather
   tie-breaks on the real key columns, and the per-segment top-k cut keeps
   entire tie groups, see executor.py.) A postings block under merge
   changes ONLY its absolute first doc id (delta encoding keeps the rest)
   and its block ordinal. So the merge is
   embarrassingly parallel over posting blocks — NO shuffle keyed by term,
   which is exactly how a 10-GB hot-term posting list (df ≈ 1% of 10^12
   turns) avoids landing on a single reducer.

2. **Salted repack.** Rebase alone leaves short tail blocks from each input
   segment. Optional repack re-blocks to exactly the index's block size
   (``IndexConfig.block_size`` in meta.json) in parallel by (term, salt)
   where salt = block-run bucket — a hot term's compaction is split across
   ``SALT_BUCKETS`` independent tasks, each re-blocking its doc-ordered
   slice, then stitched by block ordinal. Hierarchical and
   order-preserving; never a per-term single reducer.

Where it runs: a rebase merge whose group holds at most
``builder._DRIVER_POSTINGS_LIMIT`` (32 MB) of postings, by the manifest's
``postings_bytes``, on a driver-readable store runs on the driver — pyarrow
reads through ``fsio``, the ``_rebase`` kernel with the batched first-gap
re-encode (``codec.shift_first``), one ``data.parquet`` per table — and
launches no Spark job (the reference's cheap NRT merge,
InternalEngine.java:814-893). Larger rebases and every repack run as Spark
jobs; the mapInPandas rebase calls the same ``_rebase`` kernel. Segterms,
norms and tombstones are merged with pyarrow on both paths.

The manifest (active segments, merged row, supersede markers) is read and
appended through index/manifest.py. The merged row is committed before the
inputs are deleted; ``tiered_merge`` and refresh builds delete superseded
dirs a crash left.
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from elasticsearch_spark.index import deletes as _del
from elasticsearch_spark.index import builder, fsio, manifest
from elasticsearch_spark.index.builder import (
    POSTINGS_SCHEMA,
    _write_deterministic,
    sum_term_stats,
)
from elasticsearch_spark.index.codec import (
    delta_decode,
    delta_encode,
    pack_u32,
    shift_first,
    unpack_u32,
)

MAX_MERGE_AT_ONCE = 10  # TieredMergePolicyProvider.java:39 default
SALT_BUCKETS = 32  # repack tasks per hot term
# merged postings row groups: about the 1 MB parquet.block.size the Spark
# path writes with (the builder's 512-row groups slow post-merge scans)
ROW_GROUP_BYTES = 1 << 20

SPARK_POSTINGS_SCHEMA = from_arrow_schema(POSTINGS_SCHEMA)


def plan_merges(active: pd.DataFrame, fan_in: int = MAX_MERGE_AT_ONCE) -> list[list[str]]:
    """Group active segments (manifest.active rows) into merge groups of
    ≤ fan_in, smallest first."""
    segs = active.sort_values("docs_indexed", kind="stable")["segment_id"].tolist()
    return [segs[i : i + fan_in] for i in range(0, len(segs), fan_in) if len(segs[i : i + fan_in]) > 1]


def _offsets(sizes: pd.Series, group: Sequence[str]) -> dict[str, int]:
    """Merged doc-id offset of each group segment, in segment_id order."""
    off, out = 0, {}
    for s in sorted(group):
        out[s] = off
        off += int(sizes[s])
    return out


def _seg_dir(index_dir: str, sub: str, seg: str) -> str:
    return fsio.join(index_dir, sub, f"segment_id={seg}")


def _read_group(index_dir: str, sub: str, group: Sequence[str]) -> pa.Table:
    """The ``sub`` rows of every ``group`` segment in segment_id order, with
    a segment_id column (pyarrow through fsio — no Spark job)."""
    tables = []
    for s in sorted(group):
        t = fsio.dataset(_seg_dir(index_dir, sub, s), format="parquet").to_table()
        tables.append(t.append_column("segment_id", pa.array([s] * t.num_rows, pa.string())))
    return pa.concat_tables(tables, promote_options="permissive")


def _rebase(pdf: pd.DataFrame, offsets: dict[str, int], ranks: dict[str, int]) -> pd.DataFrame:
    """Move postings blocks into the merged id space: shift first/last doc
    and the first gap by the segment's offset, and prefix the block ordinal
    with the segment's rank. Gaps after the first, tfs and positions are
    merge-invariant and pass through."""
    off = pdf["segment_id"].map(offsets).to_numpy(np.int64)
    rank = pdf["segment_id"].map(ranks).to_numpy(np.int64)
    out = pdf.drop(columns=["segment_id"])
    out["docs_packed"] = shift_first(pdf["docs_packed"].tolist(), pdf["n_docs"].to_numpy(), off)
    out["block_id"] = rank * (1 << 32) + pdf["block_id"].to_numpy(np.int64)
    out["first_doc"] = pdf["first_doc"].to_numpy(np.int64) + off
    out["last_doc"] = pdf["last_doc"].to_numpy(np.int64) + off
    return out


def _merge_on_driver(
    index_dir: str,
    group: Sequence[str],
    merged_name: str,
    offsets: dict[str, int],
    ranks: dict[str, int],
) -> None:
    """Rebase merge of postings and docs with pyarrow."""
    posts = _rebase(_read_group(index_dir, "postings", group).to_pandas(), offsets, ranks)
    posts = pa.Table.from_pandas(posts, schema=POSTINGS_SCHEMA, preserve_index=False)
    posts = posts.sort_by([("term", "ascending"), ("block_id", "ascending")])
    _write_deterministic(
        posts, fsio.join(_seg_dir(index_dir, "postings", merged_name), "data.parquet"),
        row_group_size=max(1, ROW_GROUP_BYTES * posts.num_rows // max(1, posts.nbytes)),
    )

    docs = _read_group(index_dir, "docs", group)
    ids = docs["local_doc_id"].to_numpy() + docs["segment_id"].to_pandas().map(offsets).to_numpy()
    docs = docs.set_column(
        docs.schema.get_field_index("local_doc_id"), "local_doc_id", pa.array(ids, pa.int32())
    ).drop_columns(["segment_id"])
    _write_deterministic(docs, fsio.join(_seg_dir(index_dir, "docs", merged_name), "data.parquet"))


def _merge_on_spark(
    spark: SparkSession,
    index_dir: str,
    group: Sequence[str],
    merged_name: str,
    offsets: dict[str, int],
    ranks: dict[str, int],
    repack: bool,
) -> None:
    """Rebase or salted repack of postings, and docs, as Spark jobs."""
    b_off = spark.sparkContext.broadcast(offsets)
    b_rank = spark.sparkContext.broadcast(ranks)

    posts = spark.read.parquet(fsio.join(index_dir, "postings")).where(
        F.col("segment_id").isin(list(group))
    )

    if not repack:
        # pure rebase: block-parallel, zero shuffle
        def rebase(batches):
            for pdf in batches:
                if not pdf.empty:
                    yield _rebase(pdf, b_off.value, b_rank.value)
        new_posts = posts.mapInPandas(rebase, SPARK_POSTINGS_SCHEMA)
    else:
        # salted repack: re-block to exactly block_size, parallel by
        # (term, salt); salt = run of source block ordinals → order-preserving
        meta = json.loads(fsio.read_bytes(fsio.join(index_dir, "meta.json")))
        block_size = int(meta["config"]["block_size"])

        def repack_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.copy()
            pdf["rank"] = pdf["segment_id"].map(b_rank.value)
            pdf = pdf.sort_values(["rank", "first_doc"])
            offs = pdf["segment_id"].map(b_off.value).to_numpy(np.int64)
            has_pos = pdf["pos_packed"].notna().all()
            docs_all, tfs_all, pos_all = [], [], []
            for buf, tbuf, pbuf, nd, o in zip(
                pdf["docs_packed"], pdf["tfs_packed"], pdf["pos_packed"],
                pdf["n_docs"], offs,
            ):
                docs_all.append(delta_decode(unpack_u32(buf, nd)).astype(np.int64) + o)
                btfs = unpack_u32(tbuf, nd)
                tfs_all.append(btfs)
                if has_pos:
                    pos_all.append(unpack_u32(pbuf, int(btfs.sum())))
            docs = np.concatenate(docs_all)
            tfs = np.concatenate(tfs_all)
            # entry -> flat position offsets (per-doc deltas stay valid:
            # within-doc positions never change under merge)
            if has_pos:
                pos_flat = np.concatenate(pos_all) if pos_all else np.array([], np.uint32)
                entry_end = np.cumsum(tfs.astype(np.int64))
                entry_start = entry_end - tfs
            min_dl = float(pdf["min_dl_eff"].min())
            rows = []
            base = int(key[1]) * (1 << 32)  # salt-major block ordinal space
            for i, b0 in enumerate(range(0, len(docs), block_size)):
                b1 = min(b0 + block_size, len(docs))
                bd = docs[b0:b1].astype(np.uint32)
                bt = tfs[b0:b1]
                rows.append(
                    {
                        "term": key[0],
                        "block_id": base + i,
                        "n_docs": len(bd),
                        "first_doc": int(bd[0]),
                        "last_doc": int(bd[-1]),
                        "max_tf": int(bt.max()),
                        "min_dl_eff": min_dl,
                        "docs_packed": pack_u32(delta_encode(bd)),
                        "tfs_packed": pack_u32(bt),
                        "pos_packed": pack_u32(
                            pos_flat[entry_start[b0] : entry_end[b1 - 1]]
                        )
                        if has_pos
                        else None,
                    }
                )
            return pd.DataFrame(rows)

        # doc-ordered global block ordinal → contiguous salt runs per term
        rank_df = spark.createDataFrame(
            [(s, r) for s, r in ranks.items()], "segment_id string, __rank long"
        )
        ordered = posts.join(F.broadcast(rank_df), "segment_id").withColumn(
            "__ord", F.col("__rank") * F.lit(1 << 40) + F.col("first_doc").cast("long")
        )
        w = Window.partitionBy("term").orderBy("__ord")
        salted = ordered.withColumn("salt", F.ntile(SALT_BUCKETS).over(w))
        new_posts = salted.groupBy("term", "salt").applyInPandas(
            repack_fn, SPARK_POSTINGS_SCHEMA
        )

    # bounded parquet row groups so term-range stats stay useful for the
    # pruned driver-local reads after a merge (default 128 MB groups would
    # make the merged file one unprunable block)
    new_posts.write.mode("overwrite").option(
        "parquet.block.size", ROW_GROUP_BYTES
    ).parquet(_seg_dir(index_dir, "postings", merged_name))

    # docs: offset local ids, concatenate
    docs = spark.read.parquet(fsio.join(index_dir, "docs")).where(
        F.col("segment_id").isin(list(group))
    )
    off_df = spark.createDataFrame(
        [(s, o) for s, o in offsets.items()], "segment_id string, __off long"
    )
    new_docs = (
        docs.join(F.broadcast(off_df), "segment_id")
        .withColumn("local_doc_id", (F.col("local_doc_id") + F.col("__off")).cast("int"))
        .drop("segment_id", "__off")
    )
    # TIMESTAMP columns as UTC-adjusted micros, as the builder and the driver
    # merge write them (pyarrow reads Spark's default INT96 as naive nanos)
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        new_docs.write.mode("overwrite").parquet(_seg_dir(index_dir, "docs", merged_name))
    finally:
        spark.conf.set(key, prev)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    group: Sequence[str],
    merged_name: str,
    repack: bool = True,
) -> dict:
    """Merge ``group`` segments into one named ``merged_name``.

    A rebase merge (``repack=False``) whose group holds at most
    ``builder._DRIVER_POSTINGS_LIMIT`` of postings on a driver-readable
    store runs on the driver with pyarrow and launches no Spark job; a
    larger one, and every repack, runs as Spark jobs. Returns the new
    manifest row (dict). The merged row is committed before the inputs'
    dirs are deleted (Lucene deletes merged segments the same way).
    """
    g = manifest.active(manifest.read(index_dir)).set_index("segment_id").loc[list(group)]
    offsets = _offsets(g["docs_indexed"], group)
    ranks = {s: i for i, s in enumerate(sorted(group))}

    # a rerun after a crash starts from empty dirs, as Spark's overwrite does
    manifest.retire(index_dir, [merged_name])
    postings_bytes = int(g["postings_bytes"].sum())
    if not repack and builder._on_driver(
        index_dir, postings_bytes, builder._DRIVER_POSTINGS_LIMIT
    ):
        _merge_on_driver(index_dir, group, merged_name, offsets, ranks)
    else:
        _merge_on_spark(spark, index_dir, group, merged_name, offsets, ranks, repack)

    # segterms: additive merge; small next to the postings, so pyarrow on
    # both paths
    _write_deterministic(
        sum_term_stats(_read_group(index_dir, "segterms", group)),
        fsio.join(_seg_dir(index_dir, "segterms", merged_name), "data.parquet"),
    )

    # norms: concatenate packed doc_len arrays in segment order (tiny)
    norms = _read_group(index_dir, "norms", group).to_pandas()
    merged_norm = pd.DataFrame(
        {
            "n_docs": [int(norms["n_docs"].sum())],
            "sum_doc_len": [int(norms["sum_doc_len"].sum())],
            "doc_len_packed": [b"".join(norms["doc_len_packed"])],
        }
    )
    _write_deterministic(
        pa.Table.from_pandas(merged_norm, preserve_index=False),
        fsio.join(_seg_dir(index_dir, "norms", merged_name), "data.parquet"),
    )

    # stats for manifest row
    row = {
        "partition_id": -1,
        "segment_id": merged_name,
        "status": "committed",
        "docs_indexed": int(g["docs_indexed"].sum()),
        # footers, no job
        "n_terms": fsio.dataset(_seg_dir(index_dir, "segterms", merged_name)).count_rows(),
        "postings_bytes": postings_bytes,
        "sum_doc_len": int(g["sum_doc_len"].sum()),
        "merge_fan_in": len(group),
        "checksum": "",
    }

    # tombstones: rebase each input segment's delete list into the merged
    # id space (new_id = offset + old_id — the same rebase the postings get)
    merged_dels = []
    for s in group:
        ids = _del.read_deletes(index_dir, s)
        if ids.size:
            merged_dels.append(ids + offsets[s])
    if merged_dels:
        _del.write_deletes(index_dir, merged_name, np.concatenate(merged_dels))

    # commit (merged row + supersede markers), then retire the inputs; a
    # crash in between leaves dirs that the next tiered_merge deletes
    sup = [
        {**row, "segment_id": s, "status": "superseded", "merge_fan_in": 0,
         "docs_indexed": 0, "n_terms": 0, "postings_bytes": 0, "sum_doc_len": 0}
        for s in group
    ]
    manifest.append(index_dir, [row] + sup)
    manifest.retire(index_dir, group)
    return row


def tiered_merge(
    spark: SparkSession,
    index_dir: str,
    fan_in: int = MAX_MERGE_AT_ONCE,
    repack: bool = True,
) -> list[dict]:
    """One tier pass: merge all active segments in groups of ≤ fan_in.

    First deletes the dirs of superseded segments that are still on disk
    (a merge that died between its commit and its retirement)."""
    man = manifest.read(index_dir)
    manifest.retire_superseded(index_dir, man)
    rows = []
    for group in plan_merges(manifest.active(man), fan_in):
        name = f"m-{min(group)}-{len(group):02d}"
        rows.append(merge_segments(spark, index_dir, group, name, repack=repack))
    return rows
