"""Snapshot / restore of an index (SURVEY.md §2.1).

Reference: the gateway/snapshot services (index/gateway/,
LocalIndexShardGateway.java:113-161 recovers an index from its commit
point + translog). Segments here are already immutable parquet files and
the manifest is the commit point, so a snapshot IS a consistent copy of
the active file set — no quiescing needed; concurrent appends land in new
segment dirs the snapshot simply doesn't include.

Works across any pyarrow filesystem pair via index/fsio (local→s3,
s3→local, ...), so it doubles as the cross-store migration path.
"""

from __future__ import annotations

import json

from elasticsearch_spark.index import fsio, manifest

_SUBDIRS = ("postings", "docs", "norms", "segterms")


def _copy_file(src: str, dst: str) -> None:
    fsio.write_bytes(dst, fsio.read_bytes(src))


def _copy_dir(src: str, dst: str) -> None:
    from pyarrow import fs as pafs

    sfs, sp = fsio.resolve(src)
    infos = sfs.get_file_info(pafs.FileSelector(sp, recursive=True))
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        rel = info.path[len(sp) :].lstrip("/")
        _copy_file(fsio.join(src, rel), fsio.join(dst, rel))


def _copy_index(src: str, dst: str, segs: list[str]) -> None:
    """Copy the files of ``segs`` plus termstats, manifest and meta.json."""
    for sub in (*_SUBDIRS, "deletes"):
        for seg in segs:
            seg_src = fsio.join(src, sub, f"segment_id={seg}")
            # tombstones exist only for segments with deletes
            if sub != "deletes" or fsio.exists(seg_src):
                _copy_dir(seg_src, fsio.join(dst, sub, f"segment_id={seg}"))
    _copy_dir(fsio.join(src, "termstats"), fsio.join(dst, "termstats"))
    _copy_dir(fsio.join(src, "manifest"), fsio.join(dst, "manifest"))
    _copy_file(fsio.join(src, "meta.json"), fsio.join(dst, "meta.json"))


def snapshot(spark, index_dir: str, snap_dir: str) -> dict:
    """Copy the active file set (segments + tombstones + termstats +
    manifest + meta) to ``snap_dir``; returns the written snapshot
    manifest (segment list). Per-segment delete lists (deletes/) are part
    of the commit point — omitting them would resurrect tombstoned docs
    on restore (Lucene snapshots likewise include the .del generation).
    Pure file copies through fsio: ``spark`` is unused, no job runs."""
    segs = manifest.active(manifest.read(index_dir))["segment_id"].tolist()
    _copy_index(index_dir, snap_dir, segs)
    snap_meta = {"segments": segs, "source": index_dir}
    fsio.write_bytes(
        fsio.join(snap_dir, "snapshot.json"), json.dumps(snap_meta, indent=1).encode()
    )
    return snap_meta


def restore(snap_dir: str, index_dir: str) -> dict:
    """Materialize a snapshot as a live index directory (byte copy — the
    snapshot layout IS the index layout plus snapshot.json)."""
    snap_meta = json.loads(fsio.read_bytes(fsio.join(snap_dir, "snapshot.json")))
    _copy_index(snap_dir, index_dir, snap_meta["segments"])
    return snap_meta
