"""Property-based codec tests (hypothesis): the posting-block codecs must
round-trip ANY valid input, not just the fixtures — mirrors the reference's
randomized codec tests (core/util TestsUtil + codec unit tests)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from blacklab_spark.codec import (
    decode_block,
    delta_decode,
    delta_decode_segmented,
    delta_encode,
    delta_encode_segmented,
    encode_block,
    varint_decode,
    varint_encode,
    varint_lengths,
)

nonneg = st.integers(min_value=0, max_value=2**62)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(nonneg, max_size=300))
def test_varint_roundtrip(vals):
    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(varint_decode(varint_encode(v)), v)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(nonneg, max_size=300))
def test_varint_lengths_slice(vals):
    """Per-value lengths partition the bulk stream: slicing at the reported
    boundaries decodes each value independently."""
    v = np.array(vals, dtype=np.int64)
    buf = varint_encode(v)
    lens = varint_lengths(v)
    assert int(lens.sum()) == len(buf)
    off = 0
    for val, ln in zip(v, lens):
        got = varint_decode(buf[off : off + int(ln)])
        assert got.size == 1 and got[0] == val
        off += int(ln)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_delta_roundtrip_sorted(vals):
    v = np.sort(np.array(vals, dtype=np.int64))
    assert np.array_equal(delta_decode(delta_encode(v)), v)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=2**30),
            min_size=1,
            max_size=20,
        ),
        max_size=30,
    )
)
def test_delta_segmented_roundtrip(segs):
    """Per-doc position lists: each segment sorted internally, deltas reset
    at segment starts; both length- and start-based encodes round-trip."""
    segs = [np.sort(np.array(s, dtype=np.int64)) for s in segs]
    flat = (
        np.concatenate(segs) if segs else np.empty(0, dtype=np.int64)
    )
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    enc = delta_encode_segmented(flat, lens)
    assert np.array_equal(delta_decode_segmented(enc, lens), flat)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])) if len(lens) else lens
    enc2 = delta_encode_segmented(flat, None, seg_starts=starts)
    assert np.array_equal(enc, enc2)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc id
            st.lists(
                st.integers(min_value=0, max_value=2**20),  # positions
                min_size=1,
                max_size=10,
            ),
        ),
        max_size=40,
    )
)
def test_block_roundtrip(postings):
    """Whole-block encode/decode: sorted unique doc ids, tf = len(positions),
    per-doc sorted positions."""
    by_doc = {}
    for d, ps in postings:
        by_doc.setdefault(d, []).extend(ps)
    docs = np.array(sorted(by_doc), dtype=np.int64)
    tfs = np.array([len(by_doc[d]) for d in docs], dtype=np.int64)
    pos = (
        np.concatenate([np.sort(np.array(by_doc[d], dtype=np.int64)) for d in docs])
        if len(docs)
        else None
    )
    db, tb, pb = encode_block(docs, tfs, pos)
    d2, t2, p2 = decode_block(db, tb, pb)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    if pos is not None and len(pos):
        assert np.array_equal(p2, pos)


# -------------------------------------------------------------- PForDelta ---

from blacklab_spark.codec import decode_ints, encode_ints, pfor_encode  # noqa: E402


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=400))
def test_pfor_roundtrip(vals):
    v = np.array(vals, dtype=np.int64)
    assert np.array_equal(decode_ints(pfor_encode(v)), v)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=300),
    st.lists(st.integers(min_value=2**40, max_value=2**52), max_size=8),
)
def test_pfor_outlier_patching(small, outliers):
    """The exception path: a few huge values among small ones must patch
    exactly and keep the packed width small."""
    v = np.array(small + outliers, dtype=np.int64)
    rng = np.random.RandomState(len(v))
    rng.shuffle(v)
    blob = pfor_encode(v)
    assert np.array_equal(decode_ints(blob), v)
    if outliers and len(small) >= 32 * len(outliers):
        # chosen width must not blow up to outlier size: blob beats 8B/value
        assert len(blob) < 8 * v.size


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=100))
def test_encode_ints_tagged_dispatch(vals):
    """encode_ints('pfor') must fall back to the varint blob whenever values
    are out of pfor range (negative / >= 2**53) and round-trip either way."""
    v = np.array(vals, dtype=np.int64)
    for codec in ("varint", "pfor"):
        blob = encode_ints(v, codec)
        assert blob[0] in (0x01, 0x02)
        assert np.array_equal(decode_ints(blob), v)


# ------------------------------------------------- bulk block encoder -------
#
# Frozen reference: the one-block PForDelta encoder and encode_ints as they
# were before encode_blocks replaced them, kept verbatim. encode_blocks must
# reproduce their bytes for every block, so indexes built before and after
# the bulk encoder hold identical blobs.

from hypothesis import example  # noqa: E402

from blacklab_spark.codec import (  # noqa: E402
    BLOB_PFOR,
    BLOB_VARINT,
    _PFOR_MAX_BITS,
    _bit_lengths,
    _pfor_lanes,
    encode_blocks,
)


def _ref_pfor_encode(values: np.ndarray) -> bytes:
    v = np.asarray(values, dtype=np.int64)
    if v.size and (v.min() < 0 or v.max() >= (1 << 53)):
        raise ValueError("pfor_encode: values must be in [0, 2**53)")
    n = v.size
    if n == 0:
        return bytes([BLOB_PFOR, 0]) + varint_encode(np.array([0, 0]))
    bits = _bit_lengths(v.astype(np.uint64))
    # cost(b) = n*b/8 packed + ~3 bytes per exception; exceptions per b via
    # a bit-length histogram suffix sum
    hist = np.bincount(bits, minlength=54)
    exc_at = n - np.cumsum(hist)  # exc_at[b] = #values with bits > b
    cand = np.arange(0, min(int(bits.max()), _PFOR_MAX_BITS) + 1)
    cost = (n * cand + 7) // 8 + 3 * exc_at[cand]
    b = int(cand[np.argmin(cost)])
    mask = np.uint64((1 << b) - 1)
    u = v.astype(np.uint64)
    packed_len = (n * b + 7) // 8
    if b:
        bitpos = np.arange(n, dtype=np.int64) * b
        byte0 = bitpos >> 3
        shift = (bitpos & 7).astype(np.uint64)
        low = (u & mask) << shift
        buf = np.zeros(packed_len + 8, dtype=np.uint8)
        for k in range(_pfor_lanes(b)):
            np.bitwise_or.at(
                buf, byte0 + k,
                ((low >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(np.uint8),
            )
        packed = buf[:packed_len].tobytes()
    else:
        packed = b""
    exc_idx = np.flatnonzero(bits > b)
    highs = u[exc_idx] >> np.uint64(b)
    head = varint_encode(np.array([n, exc_idx.size], dtype=np.int64))
    return (
        bytes([BLOB_PFOR, b]) + head + packed
        + varint_encode(delta_encode(exc_idx))
        + varint_encode(highs.astype(np.int64))
    )


def _ref_encode_ints(values: np.ndarray, codec: str = "varint") -> bytes:
    v = np.asarray(values, dtype=np.int64)
    if codec == "pfor" and (v.size == 0 or (v.min() >= 0 and v.max() < (1 << 53))):
        return _ref_pfor_encode(v)
    if codec not in ("varint", "pfor"):
        raise ValueError(f"unknown codec {codec!r}")
    return bytes([BLOB_VARINT]) + varint_encode(v)


def _check_blocks(blocks, codec):
    """encode_blocks over the concatenated blocks, sliced at its offsets,
    equals the reference on each block and decodes back to it."""
    lens = np.array([len(b) for b in blocks], dtype=np.int64)
    flat = (
        np.concatenate([np.asarray(b, dtype=np.int64) for b in blocks])
        if blocks else np.empty(0, dtype=np.int64)
    )
    buf, off = encode_blocks(flat, lens, codec)
    assert len(off) == len(blocks) + 1 and off[0] == 0 and off[-1] == len(buf)
    for i, blk in enumerate(blocks):
        v = np.asarray(blk, dtype=np.int64)
        got = buf[off[i] : off[i + 1]]
        assert got == _ref_encode_ints(v, codec), (codec, i)
        assert np.array_equal(decode_ints(got), v), (codec, i)


_small = st.lists(st.integers(min_value=0, max_value=300), max_size=150)
_zeros = st.lists(st.just(0), max_size=40)
_wide = st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=12)
# mostly small values with outliers above 32 bits: exceptions whose high
# bits exceed the 32-bit packed cap
_outliers = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=2**33, max_value=2**53 - 1),
    ),
    max_size=60,
)
# out of pfor range: that block alone falls back to the varint blob
_unpackable = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=4
)
_blocks = st.lists(
    st.one_of(_small, _zeros, _wide, _outliers, _unpackable), max_size=40
)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(_blocks)
@example([])
@example([[], [7], [0, 0, 0], [], [5]])
@example([[1, 2, 2**40, 3, 2**52], [2**45, 0, 1], [2**53], [2**53 - 1, 1]])
@example([[3] * 20 + [2**34], [1, 2**53, 4], [0, 2**35, 1, 2**36]])
def test_encode_blocks_matches_reference(blocks):
    for codec in ("pfor", "varint"):
        _check_blocks(blocks, codec)


def test_encode_blocks_many_blocks():
    """More blocks than one kernel output batch (16,384), of every kind."""
    rng = np.random.default_rng(7)
    nb = 20_000
    lens = rng.integers(0, 9, nb)
    kinds = rng.integers(0, 4, nb)
    blocks = []
    for n, kind in zip(lens, kinds):
        if kind == 0:
            v = np.zeros(n, dtype=np.int64)
        elif kind == 1:
            v = rng.integers(0, 200, n)
        elif kind == 2:
            v = np.where(rng.random(n) < 0.3, rng.integers(2**33, 2**53, n),
                         rng.integers(0, 16, n))
        else:
            v = rng.integers(0, 2**62, n)
        blocks.append(v)
    _check_blocks(blocks, "pfor")


def test_encode_blocks_rejects_bad_input():
    import pytest

    with pytest.raises(ValueError):
        encode_blocks(np.arange(3), np.array([2]), "pfor")
    with pytest.raises(ValueError):
        encode_blocks(np.arange(3), np.array([3]), "zstd")
