"""Postings block codec — numpy-vectorized FOR bitpacking.

The reference delegates postings compression to Lucene50PostingsFormat
(/root/reference/src/main/java/org/elasticsearch/index/codec/postingsformat/
Elasticsearch090PostingsFormat.java:42-54): docID deltas + term frequencies in
FOR-compressed blocks of 128 with per-block skip data. We reproduce the same
layout idea — per (term, block): delta-gap docIDs bit-packed at the block's
minimal bit width, tfs likewise, plus block-max metadata (max_tf, min
effective doc length) used by block-max WAND pruning at query time.

All pack/unpack paths are pure numpy (unpackbits/packbits, or shifts) — no
Python loops over values; ``pack_blocks`` packs a whole segment's stream of
blocks without a loop over blocks either.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # Lucene50 FOR block size
_PASS_VALUES = 1 << 20  # values per packing pass (bounds its temporaries)


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
    byte for byte, batched: blocks ordered by (n, bit width) are taken in
    passes of ≤ ~1M values; in a pass, blocks sharing (n, width) unpack as
    one 2-D array, and the whole pass repacks through one ``pack_blocks``.
    The merge rebase — only a block's first gap (its absolute first doc id)
    moves."""
    n_docs = np.asarray(n_docs, dtype=np.int64)
    shifts = np.asarray(shifts, dtype=np.uint64).astype(np.uint32)
    widths = np.fromiter((b[0] for b in bufs), dtype=np.int64, count=len(bufs))
    keys = n_docs * 64 + widths
    order = np.argsort(keys, kind="stable")
    at_value = np.cumsum(n_docs[order]) - n_docs[order]  # of each block, in order
    passes = at_value // _PASS_VALUES
    out: list[bytes] = [b""] * len(bufs)
    for p in np.unique(passes).tolist():
        chunk = np.flatnonzero(passes == p)
        idx = order[chunk]
        starts = at_value[chunk] - at_value[chunk[0]]
        vals = np.zeros(int(n_docs[idx].sum()), dtype=np.uint32)
        for g in np.split(np.arange(len(idx)), np.flatnonzero(np.diff(keys[idx])) + 1):
            n, w = divmod(int(keys[idx[g[0]]]), 64)
            if w:  # each value's w bits, zero-padded to a big-endian uint32
                raw = np.frombuffer(b"".join([bufs[i][1:] for i in idx[g]]), dtype=np.uint8)
                bits = np.unpackbits(raw.reshape(len(g), -1), axis=1)[:, : n * w]
                full = np.zeros((len(g), n, 32), dtype=np.uint8)
                full[:, :, 32 - w :] = bits.reshape(len(g), n, w)
                at = int(starts[g[0]])
                vals[at : at + len(g) * n] = np.packbits(full, axis=2).view(">u4").ravel()
        vals[starts] += shifts[idx]
        offsets, data = pack_blocks(vals, starts)
        for i, a, b in zip(idx.tolist(), offsets[:-1].tolist(), offsets[1:].tolist()):
            out[i] = data[a:b].tobytes()
    return out


def pack_blocks(values: np.ndarray, starts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``pack_u32`` of every block ``values[starts[i]:starts[i + 1]]`` (the
    last block runs to the end; blocks are non-empty), byte for byte, as the
    int64 offsets and uint8 data buffers of one binary array. Blocks are
    packed per bit width w, eight values to a row of w bytes with shifts, in
    passes of ≤ ~1M values; no value is expanded to a row of bits."""
    v = np.ascontiguousarray(values, dtype=np.uint32)
    starts = np.asarray(starts, dtype=np.int64)
    if not len(starts):
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    n = np.diff(starts, append=len(v))
    widths = np.frexp(np.maximum.reduceat(v, starts).astype(np.float64))[1]  # bit length
    body = (n * widths + 7) // 8
    rows = (n + 7) // 8  # rows of eight values, the last one zero-padded
    # each block first gets header + all its rows' bytes; the tail of its
    # last row past ``body`` (zeros) is cut out at the end
    span = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(1 + rows * widths, out=span[1:])
    buf = np.zeros(int(span[-1]), dtype=np.uint8)
    buf[span[:-1]] = widths
    passes = np.cumsum(n) // _PASS_VALUES
    for p in np.unique(passes).tolist():
        blocks = np.flatnonzero(passes == p)
        b0, b1 = int(blocks[0]), int(blocks[-1]) + 1
        lo, hi = int(starts[b0]), int(starts[b1]) if b1 < len(starts) else len(v)
        row0 = np.cumsum(rows[b0:b1]) - rows[b0:b1]
        padded = np.zeros((int(rows[b0:b1].sum()), 8), dtype=np.uint64)
        dst = np.arange(hi - lo) + np.repeat(8 * row0 - (starts[b0:b1] - lo), n[b0:b1])
        padded.ravel()[dst] = v[lo:hi]
        del dst
        row_block = np.repeat(np.arange(b0, b1), rows[b0:b1])
        row_in_block = np.arange(len(padded)) - np.repeat(row0, rows[b0:b1])
        for w, sel in _groups(widths[row_block]):
            if w:
                at = span[row_block[sel]] + 1 + row_in_block[sel] * w
                buf[at[:, None] + np.arange(w)] = _pack_rows8(padded[sel], w)
    cut = np.zeros(len(buf) + 1, dtype=np.int8)
    cut[span[:-1] + 1 + body] += 1
    cut[span[1:]] -= 1
    offsets = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(1 + body, out=offsets[1:])
    return offsets, buf[np.cumsum(cut[:-1], dtype=np.int8) == 0]


def _pack_rows8(rows: np.ndarray, w: int) -> np.ndarray:
    """(R, 8) values of bit width ≤ w → (R, w) bytes: the rows' big-endian
    w-bit streams, built with shifts through a ≤ 40-bit accumulator."""
    out = np.empty((len(rows), w), dtype=np.uint8)
    acc = np.zeros(len(rows), dtype=np.uint64)
    nbits = b = 0
    for i in range(8):
        acc = (acc << np.uint64(w)) | rows[:, i]
        nbits += w
        while nbits >= 8:
            nbits -= 8
            out[:, b] = acc >> np.uint64(nbits)  # low 8 bits
            b += 1
        acc &= np.uint64((1 << nbits) - 1)
    return out


def _groups(keys: np.ndarray):
    """(key, row indices) for each distinct key."""
    order = np.argsort(keys, kind="stable")
    uniq, starts = np.unique(keys[order], return_index=True)
    return zip(uniq.tolist(), np.split(order, starts[1:]))


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
