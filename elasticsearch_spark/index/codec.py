"""Postings block codec — numpy-vectorized FOR bitpacking.

The reference delegates postings compression to Lucene50PostingsFormat
(/root/reference/src/main/java/org/elasticsearch/index/codec/postingsformat/
Elasticsearch090PostingsFormat.java:42-54): docID deltas + term frequencies in
FOR-compressed blocks of 128 with per-block skip data. We reproduce the same
layout idea — per (term, block): delta-gap docIDs bit-packed at the block's
minimal bit width, tfs likewise, plus block-max metadata (max_tf, min
effective doc length) used by block-max WAND pruning at query time.

All pack/unpack paths are pure numpy (unpackbits/packbits) — no Python loops
over values.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # Lucene50 FOR block size


def pack_u32(values: np.ndarray) -> bytes:
    """Bit-pack a uint32 array at its minimal bit width.

    Layout: 1 byte bit-width w (0..32), then ceil(n*w/8) bytes of the
    big-endian bit stream. n is NOT stored (callers know block sizes).
    w=0 encodes an all-zeros block in 1 byte.
    """
    v = np.ascontiguousarray(values, dtype=np.uint32)
    if v.size == 0:
        return b"\x00"
    maxv = int(v.max())
    w = int(maxv).bit_length()
    if w == 0:
        return b"\x00"
    # view each uint32 as 4 big-endian bytes -> 32 bits -> keep low w bits
    as_bytes = v.astype(">u4").view(np.uint8).reshape(-1, 4)
    bits = np.unpackbits(as_bytes, axis=1)[:, 32 - w :]
    packed = np.packbits(bits.ravel())
    return bytes([w]) + packed.tobytes()


def unpack_u32(buf: bytes, n: int) -> np.ndarray:
    """Inverse of pack_u32 for a block of n values."""
    w = buf[0]
    if w == 0:
        return np.zeros(n, dtype=np.uint32)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8, offset=1), count=n * w)
    bits = bits.reshape(n, w)
    pad = np.zeros((n, 32 - w), dtype=np.uint8)
    full = np.concatenate([pad, bits], axis=1)
    return np.packbits(full, axis=1).view(">u4").ravel().astype(np.uint32)


def shift_first(bufs: list[bytes], n_docs: np.ndarray, shifts: np.ndarray) -> list[bytes]:
    """``pack_u32(unpack_u32(buf, n) with [0] += shift)`` for every block,
    byte for byte, batched: blocks sharing (n, bit width) unpack as one 2-D
    array, and blocks sharing (n, new width) pack as one. The merge rebase —
    only a block's first gap (its absolute first doc id) moves."""
    n_docs = np.asarray(n_docs, dtype=np.int64)
    shifts = np.asarray(shifts, dtype=np.uint64)
    widths = np.fromiter((b[0] for b in bufs), dtype=np.int64, count=len(bufs))
    out: list[bytes] = [b""] * len(bufs)
    for key, rows in _groups(n_docs * 64 + widths):
        n, w = divmod(key, 64)
        step = max(1, (1 << 20) // n)  # ≤ ~1M values per (rows, n, 32) bit matrix
        for c in range(0, len(rows), step):
            idx = rows[c : c + step]
            vals = np.zeros((len(idx), n), dtype=np.uint64)
            if w:
                raw = np.frombuffer(b"".join([bufs[i][1:] for i in idx]), dtype=np.uint8)
                bits = np.unpackbits(raw.reshape(len(idx), -1), axis=1)[:, : n * w]
                full = np.zeros((len(idx), n, 32), dtype=np.uint8)
                full[:, :, 32 - w :] = bits.reshape(len(idx), n, w)
                vals[:] = np.packbits(full, axis=2).view(">u4")[:, :, 0]
            vals[:, 0] += shifts[idx]
            new_w = np.frexp(vals.max(axis=1).astype(np.float64))[1]  # bit length
            for w2, sub in _groups(new_w):
                for i, b in zip(idx[sub], _pack_rows(vals[sub], w2)):
                    out[i] = b
    return out


def _groups(keys: np.ndarray):
    """(key, row indices) for each distinct key."""
    order = np.argsort(keys, kind="stable")
    uniq, starts = np.unique(keys[order], return_index=True)
    return zip(uniq.tolist(), np.split(order, starts[1:]))


def _pack_rows(vals: np.ndarray, w: int) -> list[bytes]:
    """pack_u32 of each row of ``vals`` (every row's width is ``w``)."""
    if w == 0:
        return [b"\x00"] * len(vals)
    bits = np.unpackbits(vals.astype(">u4").view(np.uint8).reshape(*vals.shape, 4), axis=2)
    packed = np.packbits(bits[:, :, 32 - w :].reshape(len(vals), -1), axis=1)
    head = bytes([w])
    return [head + r.tobytes() for r in packed]


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Ascending local doc ids -> gaps (first value kept absolute)."""
    d = np.asarray(doc_ids, dtype=np.uint32)
    out = np.empty_like(d)
    out[0] = d[0]
    np.subtract(d[1:], d[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(gaps.astype(np.uint64)).astype(np.uint32)


def pack_f32(values: np.ndarray) -> bytes:
    return np.ascontiguousarray(values, dtype="<f4").tobytes()


def unpack_f32(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<f4")
