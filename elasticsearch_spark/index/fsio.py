"""Filesystem abstraction for index segment IO.

The reference's store layer (index/store/, org.apache.lucene.store.Directory)
abstracts segment IO from the medium; here the same seam is pyarrow.fs so
segment files can live on file://, s3://, hdfs://, gs:// — executors write
immutable segment parquet directly to the shared store, the driver reads
footers/row-groups through the same handle.

Spark-level reads/writes (termstats and merges above the driver gates,
docs scans) pass the URI straight to Spark, whose Hadoop connectors resolve
the scheme themselves; this module covers the pyarrow paths: deterministic
segment writes, the manifest's reads and appends (index/manifest.py),
driver-side merges and termstats republishes, and driver-side pruned reads.

``register(scheme, fs, strip)`` injects a custom FileSystem for tests
(e.g. pyarrow's in-memory _MockFileSystem) or for pre-authenticated
clients at deploy time.
"""

from __future__ import annotations

import os

from pyarrow import fs as pafs

# test/deploy hook: scheme -> (FileSystem, strip_scheme_prefix)
_REGISTERED: dict[str, tuple[pafs.FileSystem, bool]] = {}


def register(scheme: str, fs: pafs.FileSystem, strip_prefix: bool = True) -> None:
    _REGISTERED[scheme] = (fs, strip_prefix)


def unregister(scheme: str) -> None:
    _REGISTERED.pop(scheme, None)


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join would mangle scheme://)."""
    return "/".join([base.rstrip("/"), *parts])


def _scheme(path: str) -> str | None:
    i = path.find("://")
    return path[:i] if i > 0 else None


def is_local(path: str) -> bool:
    s = _scheme(path)
    return s is None or s == "file"


def driver_readable(path: str) -> bool:
    """True when the driver can read this store through pyarrow directly
    (local disk, file://, or an explicitly registered filesystem). Remote
    object stores default to the distributed Spark path."""
    s = _scheme(path)
    return s is None or s == "file" or s in _REGISTERED


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """path/URI → (FileSystem, in-filesystem path)."""
    s = _scheme(path)
    if s is None:
        return pafs.LocalFileSystem(), path
    if s in _REGISTERED:
        fs, strip = _REGISTERED[s]
        return fs, (path[len(s) + 3 :] if strip else path)
    return pafs.FileSystem.from_uri(path)


def makedirs(path: str) -> None:
    fs, p = resolve(path)
    fs.create_dir(p, recursive=True)


def exists(path: str) -> bool:
    fs, p = resolve(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def delete_dir(path: str) -> None:
    """Recursively delete a directory on ANY store (local path, file://,
    s3://, registered fs). No-op if absent. Segment retirement must go
    through this — a plain shutil.rmtree silently no-ops on URIs, leaving
    retired segment files for whole-directory readers to double-count."""
    fs, p = resolve(path)
    if fs.get_file_info(p).type != pafs.FileType.NotFound:
        fs.delete_dir(p)


def list_dir(path: str) -> list[str]:
    """Names of the entries directly under ``path`` (empty if absent)."""
    fs, p = resolve(path)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    return [i.base_name for i in fs.get_file_info(pafs.FileSelector(p))]


def open_input(path: str):
    fs, p = resolve(path)
    return fs.open_input_file(p)


def write_bytes(path: str, data: bytes) -> None:
    fs, p = resolve(path)
    parent = p.rsplit("/", 1)[0]
    if parent and parent != p:
        fs.create_dir(parent, recursive=True)
    with fs.open_output_stream(p) as f:
        f.write(data)


def read_bytes(path: str) -> bytes:
    fs, p = resolve(path)
    with fs.open_input_stream(p) as f:
        return f.read()


def dataset(path: str, **kw):
    """pyarrow.dataset over any registered/URI filesystem."""
    import pyarrow.dataset as ds

    fs, p = resolve(path)
    return ds.dataset(p, filesystem=fs, **kw)


def write_table_deterministic(table, path: str, **write_kw) -> None:
    """Write a parquet file whose final visibility is all-or-nothing.

    Local: stage as a hidden ``.<name>.tmp`` beside the target, then
    atomic rename (crash-safe, byte-identical on retry). Spark's file
    listing and pyarrow's discovery both skip names that start with ``.``,
    so a staged file left by a crash is never read as data. Remote object
    stores have no rename; the PUT of an immutable, deterministically-named
    object is already effectively atomic, so write direct — a retried task
    overwrites with identical bytes.
    """
    import pyarrow.parquet as pq

    fs, p = resolve(path)
    parent = p.rsplit("/", 1)[0]
    if parent and parent != p:
        fs.create_dir(parent, recursive=True)
    if isinstance(fs, pafs.LocalFileSystem):
        tmp = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.tmp")
        pq.write_table(table, tmp, **write_kw)
        os.replace(tmp, p)
    else:
        with fs.open_output_stream(p) as f:
            pq.write_table(table, f, **write_kw)
