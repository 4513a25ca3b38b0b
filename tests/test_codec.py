"""Postings codec round-trip (FOR bitpack + delta), incl. property tests."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_spark.index.codec import (
    delta_decode,
    delta_encode,
    pack_blocks,
    pack_f32,
    pack_u32,
    shift_first,
    unpack_f32,
    unpack_u32,
)


def test_basic_roundtrip():
    rng = np.random.default_rng(0)
    for n in (1, 2, 127, 128, 129, 1000):
        docs = np.sort(rng.choice(1 << 20, size=n, replace=False)).astype(np.uint32)
        gaps = delta_encode(docs)
        assert np.array_equal(delta_decode(unpack_u32(pack_u32(gaps), n)), docs)


def test_zero_block():
    z = np.zeros(77, dtype=np.uint32)
    buf = pack_u32(z)
    assert len(buf) == 1
    assert np.array_equal(unpack_u32(buf, 77), z)


def test_f32_roundtrip():
    v = np.array([1.0, 2.56, 64.0, 113.7778], dtype=np.float32)
    assert np.array_equal(unpack_f32(pack_f32(v)), v)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=1, max_size=300)
)
def test_pack_u32_property(values):
    v = np.array(values, dtype=np.uint32)
    assert np.array_equal(unpack_u32(pack_u32(v), len(v)), v)


@settings(max_examples=100, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=1 << 22), min_size=1, max_size=500)
)
def test_delta_property(doc_set):
    docs = np.array(sorted(doc_set), dtype=np.uint32)
    assert np.array_equal(delta_decode(delta_encode(docs)), docs)


def test_shift_first_matches_per_block_reencode(monkeypatch):
    """The batched merge re-encode is byte-identical to re-encoding each
    block on its own, across widths 0..32, single-value blocks and blocks
    whose width grows once the first gap is shifted, also when its passes
    cut the blocks; no block gives no output."""
    import elasticsearch_spark.index.codec as codec

    rng = np.random.default_rng(5)
    bufs, ns, shifts = [], [], []
    for i in range(3000):
        n = int(rng.choice([1, 2, 7, 128, int(rng.integers(1, 129))]))
        w = int(rng.integers(0, 33))
        v = rng.integers(0, 1 << w, n, dtype=np.uint64).astype(np.uint32) if w else np.zeros(n, np.uint32)
        if w == 32:
            v[-1] = (1 << 32) - 1
        bufs.append(pack_u32(v))
        ns.append(n)
        # zero, small, and width-growing shifts (kept below 2^32 overall)
        room = (1 << 32) - 1 - int(v[0])
        shifts.append(min(room, int(rng.choice([0, 1, 1 << int(rng.integers(0, 31))]))))
    want = []
    for buf, n, s in zip(bufs, ns, shifts):
        g = unpack_u32(buf, n).copy()
        g[0] += s
        want.append(pack_u32(g))
    for per_pass in (1 << 20, 300, 1):
        monkeypatch.setattr(codec, "_PASS_VALUES", per_pass)
        assert shift_first(bufs, ns, shifts) == want, per_pass
    assert shift_first([], [], []) == []
    grew = sum(b[0] > a[0] for a, b in zip(bufs, want))
    assert grew > 100 and any(b[0] == 0 for b in want) and any(b[0] == 32 for b in want)
    assert any(n == 1 for n in ns)


def _stream_blocks(rng, n_blocks):
    """(values, starts) of ``n_blocks`` random blocks: widths 0..32, sizes
    1, 2, 7, 128 or random, each block's width reached by one value."""
    vals, starts = [], []
    at = 0
    for _ in range(n_blocks):
        n = int(rng.choice([1, 2, 7, 128, int(rng.integers(1, 129))]))
        w = int(rng.integers(0, 33))
        v = rng.integers(0, 1 << w, n, dtype=np.uint64).astype(np.uint32) if w else np.zeros(n, np.uint32)
        if w:
            v[rng.integers(0, n)] |= np.uint32(1 << (w - 1))
        vals.append(v)
        starts.append(at)
        at += n
    return np.concatenate(vals), np.array(starts, dtype=np.int64)


def test_pack_blocks_matches_per_block_pack_u32(monkeypatch):
    """One pass over a stream of blocks gives each block's ``pack_u32``
    bytes, also when the passes that bound its memory cut the stream."""
    import elasticsearch_spark.index.codec as codec

    rng = np.random.default_rng(9)
    values, starts = _stream_blocks(rng, 2000)
    ends = np.append(starts[1:], len(values))
    want = [pack_u32(values[s:e]) for s, e in zip(starts, ends)]
    widths = {b[0] for b in want}
    assert widths == set(range(33))
    assert any(e - s == 1 for s, e in zip(starts, ends))
    for per_pass in (1 << 20, 300, 1):
        monkeypatch.setattr(codec, "_PASS_VALUES", per_pass)
        offsets, data = pack_blocks(values, starts)
        got = [data[a:b].tobytes() for a, b in zip(offsets[:-1], offsets[1:])]
        assert got == want, per_pass
        assert offsets[-1] == len(data)


def test_pack_blocks_edge_streams():
    """A lone value, all-zero and full-width blocks, a term's several
    blocks back to back, and no block at all."""
    cases = [
        ([5], [0]),
        ([0, 0, 0], [0]),
        ([(1 << 32) - 1, 0, 1], [0]),
        (list(range(300)), [0, 128, 256]),  # one term, three blocks
        ([0] * 128 + [1], [0, 128]),  # w = 0 then a single w = 1 value
    ]
    for values, starts in cases:
        v = np.array(values, dtype=np.uint32)
        bounds = [*starts, len(v)]
        offsets, data = pack_blocks(v, np.array(starts))
        assert [data[a:b].tobytes() for a, b in zip(offsets[:-1], offsets[1:])] == [
            pack_u32(v[s:e]) for s, e in zip(bounds[:-1], bounds[1:])
        ], values
    offsets, data = pack_blocks(np.zeros(0, np.uint32), np.zeros(0, np.int64))
    assert offsets.tolist() == [0] and len(data) == 0
