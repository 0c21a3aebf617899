"""Posting-block codecs: delta + varint (LEB128) and delta + fixed-width packed.

Mirrors the *role* of the reference's compressed structures — varint/zint
payload codecs (reference: doc/technical/index-formats/integrated.md:82-100)
and the adaptive 1/2/3/4-byte token codec
(engine/.../codec/TokensCodec.java:14-46) — with a brand-new numpy-vectorized
implementation (no per-element Python in either direction).

Layout per posting block (one row of the postings table):
    doc_ids   : delta-encoded (first value absolute) then varint
    tfs       : varint (values >= 1)
    positions : per-doc position lists concatenated; each doc's positions are
                delta-encoded within the doc, then the whole stream varint'd.
                Per-doc lengths are exactly the tfs, so no extra length array.

All arrays are int64 on the numpy side.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- varint ----


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int64 array, fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (at least 1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    # 64 bits -> at most 10 groups; compute bit length via successive shifts
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        nbits[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    nbits += 1  # bit_length (>=1 even for 0)
    ngroups = (nbits + 6) // 7
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    # position of each byte within its value
    starts = np.concatenate(([0], np.cumsum(ngroups)[:-1]))
    idx = np.arange(total, dtype=np.int64)
    owner = np.repeat(np.arange(v.size, dtype=np.int64), ngroups)
    within = idx - starts[owner]
    shifted = v[owner] >> (within.astype(np.uint64) * np.uint64(7))
    out[:] = (shifted & np.uint64(0x7F)).astype(np.uint8)
    is_last = within == (ngroups[owner] - 1)
    out[~is_last] |= 0x80
    return out.tobytes()


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte count (vectorized) — lets callers slice a bulk-
    encoded stream at arbitrary value boundaries without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = tmp >= (np.uint64(1) << np.uint64(shift))
        nbits[mask] += shift
        tmp[mask] >>= np.uint64(shift)
    nbits += 1
    return (nbits + 6) // 7


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to an int64 array, fully vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    is_last = (b & 0x80) == 0
    n_values = int(is_last.sum())
    # group id per byte: 0-based index of the value this byte belongs to
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last)[:-1]
    # position of byte within its group
    starts = np.zeros(n_values, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    within = np.arange(b.size, dtype=np.int64) - starts[group]
    contrib = (b & 0x7F).astype(np.uint64) << (within.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, group, contrib)
    return out.astype(np.int64)


# ----------------------------------------------------------------- delta ----


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    v = np.asarray(sorted_vals, dtype=np.int64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.int64)
    return np.cumsum(d)


def delta_encode_segmented(
    values: np.ndarray, seg_lengths: np.ndarray | None, seg_starts: np.ndarray | None = None
) -> np.ndarray:
    """Delta-encode within consecutive segments (per-doc position lists).
    Segments given as lengths OR directly as start indexes."""
    v = np.asarray(values, dtype=np.int64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    if seg_starts is not None:
        starts = np.asarray(seg_starts, dtype=np.int64)
    else:
        starts = np.concatenate(([0], np.cumsum(seg_lengths)[:-1])).astype(np.int64)
    starts = starts[starts < v.size]
    out[starts] = v[starts]  # reset at each segment start (absolute value)
    return out


def delta_decode_segmented(deltas: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode_segmented, vectorized via offset-corrected cumsum."""
    d = np.asarray(deltas, dtype=np.int64)
    if d.size == 0:
        return d
    seg_lengths = np.asarray(seg_lengths, dtype=np.int64)
    seg_lengths = seg_lengths[seg_lengths > 0]
    starts = np.concatenate(([0], np.cumsum(seg_lengths)[:-1]))
    cs = np.cumsum(d)
    # value at segment start must be d[start]; subtract the running total
    # accumulated before each segment from every element of that segment
    correction = np.repeat(cs[starts] - d[starts], seg_lengths)
    return cs - correction


# ------------------------------------------------------------- PForDelta ----
#
# Patched frame-of-reference (Zukowski et al., "Super-Scalar RAM-CPU Cache
# Compression", ICDE 2006; the NewPFD variant of Yan/Ding/Suel, WWW 2009):
# pick a bit width b covering most values, bit-pack every value's low b bits,
# and patch the outliers ("exceptions") from two varint side streams
# (positions + high bits). Decode is a fixed-stride gather — branchless and
# fully vectorizable — where varint decode must walk continuation bits.
#
# Blob self-description: every posting blob (format_version >= 12) leads with
# ONE tag byte, so merge keeps moving block bytes verbatim between segments
# built with different codecs and the decode kernel needs no metadata.

BLOB_VARINT = 0x01
BLOB_PFOR = 0x02
_PFOR_MAX_BITS = 32  # low-bit cap; wider values spill their high bits into
#                      the exception stream (e.g. the absolute first doc id
#                      of a block at 10^12-doc scale: 40 bits -> 1 exception)
def _pfor_lanes(b: int) -> int:
    """Byte lanes a packed value can span: 7-bit max shift + b-bit width."""
    return (7 + b + 7) // 8


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Bit length per value (0 -> 0) via float log2, which may round up to
    54 just below 2**53 — harmless, pfor only compares it with b <= 32. The
    pfor entry points reject wider values (callers fall back to varint)."""
    out = np.zeros(v.shape, dtype=np.int64)
    nz = v > 0
    out[nz] = np.floor(np.log2(v[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def _block_sums(per_value: np.ndarray, blk: np.ndarray, nb: int) -> np.ndarray:
    """Per-block sums of a small non-negative int array (exact in float64)."""
    return np.bincount(blk, weights=per_value, minlength=nb).astype(np.int64)


def _scatter(parts: list[tuple[np.ndarray, np.ndarray]], nb: int):
    """Lay out per-block parts block after block: parts[k] = (bytes of part k
    for every block, concatenated; its per-block byte counts). Block i's
    output is part 0 of block i, then part 1, ... Returns (bytes, offsets)."""
    sizes = np.zeros(nb, dtype=np.int64)
    for _, lens in parts:
        sizes += lens
    offsets = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    at = offsets[:-1].copy()  # where each block's next part goes
    for buf, lens in parts:
        if buf.size:
            src = np.zeros(nb, dtype=np.int64)
            np.cumsum(lens[:-1], out=src[1:])
            out[np.arange(buf.size) + np.repeat(at - src, lens)] = buf
        at += lens
    return out.tobytes(), offsets


def encode_blocks(values: np.ndarray, lens: np.ndarray, codec: str = "pfor"):
    """Encode consecutive blocks of one array, each as its own TAGGED blob,
    in a fixed number of numpy passes over the whole array. Block i holds
    values[sum(lens[:i]) : sum(lens[:i+1])]. Returns (bytes, offsets): block
    i's blob is bytes[offsets[i]:offsets[i+1]], byte for byte what
    encode_ints(block i, codec) returns.

    pfor blob layout (tag 0x02):

        [0x02][b:1][varint n][varint n_exc]
        [packed: ceil(n*b/8) bytes][exc idx deltas varint][exc highs varint]

    Per block, b minimizes total bytes (exact packed cost + ~3 bytes per
    exception estimate; the smallest b wins a tie). Values >= 2**53 make the
    float bit length inexact, so a block holding one (or a negative value)
    is written as the varint blob (tag 0x01) instead, as is every block
    under codec="varint"."""
    if codec not in ("varint", "pfor"):
        raise ValueError(f"unknown codec {codec!r}")
    v = np.asarray(values, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    nb = lens.size
    if int(lens.sum()) != v.size:
        raise ValueError("encode_blocks: lens must sum to len(values)")
    blk = np.repeat(np.arange(nb, dtype=np.int64), lens)
    if codec == "varint":
        fallback = np.ones(nb, dtype=bool)
    else:
        fallback = np.zeros(nb, dtype=bool)
        fallback[blk[(v < 0) | (v >= (1 << 53))]] = True
    # varint blobs: [0x01][varint stream]
    vb = fallback[blk]
    fv = v[vb]
    parts = [
        (np.full(int(fallback.sum()), BLOB_VARINT, dtype=np.uint8),
         fallback.astype(np.int64)),
        (np.frombuffer(varint_encode(fv), dtype=np.uint8),
         _block_sums(varint_lengths(fv), blk[vb], nb)),
    ]
    if fallback.all():
        return _scatter(parts, nb)
    # pfor blobs over the other blocks, renumbered 0..np_-1
    keep = np.flatnonzero(~fallback)
    np_ = keep.size
    u = v[~vb].astype(np.uint64)
    n = lens[keep]
    pblk = np.repeat(np.arange(np_, dtype=np.int64), n)
    starts = np.zeros(np_, dtype=np.int64)
    np.cumsum(n[:-1], out=starts[1:])
    within = np.arange(u.size, dtype=np.int64) - starts[pblk]
    bits = _bit_lengths(u)
    # cost(b) = n*b/8 packed + ~3 bytes per exception, for every b in 0..32
    # of every block at once: exceptions per b from a per-block bit-length
    # histogram. A b above the block's widest value never costs less than
    # that width, so argmin's first minimum is pfor's choice. (Bit lengths
    # reach 54: log2 rounds up to 53.0 just below 2**53.)
    hist = np.bincount(pblk * 55 + bits, minlength=np_ * 55).reshape(np_, 55)
    exc_at = n[:, None] - np.cumsum(hist[:, : _PFOR_MAX_BITS + 1], axis=1)
    cand = np.arange(_PFOR_MAX_BITS + 1, dtype=np.int64)
    cost = (n[:, None] * cand + 7) // 8 + 3 * exc_at
    b = np.argmin(cost, axis=1).astype(np.int64)
    packed_len = (n * b + 7) // 8
    # bit-pack every value's low b bits at its block's packed region; the
    # bits of different values never overlap, so a byte is the SUM of its
    # lane contributions (one float64 bincount per lane, exact: <= 255)
    vbits = b[pblk]
    pk_start = np.zeros(np_, dtype=np.int64)
    np.cumsum(packed_len[:-1], out=pk_start[1:])
    bitpos = within * vbits
    byte0 = pk_start[pblk] + (bitpos >> 3)
    low = (u & ((np.uint64(1) << vbits.astype(np.uint64)) - np.uint64(1))) << (
        (bitpos & 7).astype(np.uint64)
    )
    total_packed = int(packed_len.sum())
    acc = np.zeros(total_packed + 8, dtype=np.float64)
    for k in range(_pfor_lanes(int(b.max()))):
        lane = ((low >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(np.float64)
        acc += np.bincount(byte0 + k, weights=lane, minlength=acc.size)
    packed = acc[:total_packed].astype(np.uint8)
    # exceptions: index deltas restart at each block, highs = value >> b
    exc = np.flatnonzero(bits > vbits)
    eblk = pblk[exc]
    ew = within[exc]
    edelta = ew.copy()
    same = eblk[1:] == eblk[:-1]
    edelta[1:][same] -= ew[:-1][same]
    highs = (u[exc] >> vbits[exc].astype(np.uint64)).astype(np.int64)
    n_exc = np.bincount(eblk, minlength=np_)
    head = np.column_stack([n, n_exc]).ravel()

    def spread(x):  # per pfor block -> per block (0 for varint blocks)
        out = np.zeros(nb, dtype=np.int64)
        out[keep] = x
        return out

    # a block's parts are either the two varint ones or these five, so
    # their order in the list only matters within each family
    tag = np.column_stack([np.full(np_, BLOB_PFOR), b]).ravel().astype(np.uint8)
    parts += [
        (tag, spread(2)),
        (np.frombuffer(varint_encode(head), dtype=np.uint8),
         spread(varint_lengths(head).reshape(np_, 2).sum(axis=1))),
        (packed, spread(packed_len)),
        (np.frombuffer(varint_encode(edelta), dtype=np.uint8),
         spread(_block_sums(varint_lengths(edelta), eblk, np_))),
        (np.frombuffer(varint_encode(highs), dtype=np.uint8),
         spread(_block_sums(varint_lengths(highs), eblk, np_))),
    ]
    return _scatter(parts, nb)


def pfor_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int64 array as ONE tagged PForDelta blob (the
    one-block case of encode_blocks, which documents the layout). Values
    outside [0, 2**53) raise — encode_ints falls back to varint instead."""
    v = np.asarray(values, dtype=np.int64)
    if v.size and (v.min() < 0 or v.max() >= (1 << 53)):
        raise ValueError("pfor_encode: values must be in [0, 2**53)")
    return encode_blocks(v, np.array([v.size]), "pfor")[0]


def _pfor_decode(mv: memoryview) -> np.ndarray:
    """Decode the body after the 0x02 tag byte."""
    b = mv[0]
    # header: two varints (n, n_exc) — walk continuation bits (tiny)
    pos = 1
    vals = []
    for _ in range(2):
        x, sh = 0, 0
        while True:
            byte = mv[pos]
            pos += 1
            x |= (byte & 0x7F) << sh
            if not byte & 0x80:
                break
            sh += 7
        vals.append(x)
    n, n_exc = vals
    if n == 0:
        return np.empty(0, dtype=np.int64)
    packed_len = (n * b + 7) // 8
    if b:
        raw = np.empty(packed_len + 8, dtype=np.uint8)
        raw[:packed_len] = np.frombuffer(mv[pos : pos + packed_len], dtype=np.uint8)
        raw[packed_len:] = 0
        bitpos = np.arange(n, dtype=np.int64) * b
        byte0 = bitpos >> 3
        shift = (bitpos & 7).astype(np.uint64)
        window = np.zeros(n, dtype=np.uint64)
        for k in range(_pfor_lanes(b)):
            window |= raw[byte0 + k].astype(np.uint64) << np.uint64(8 * k)
        out = ((window >> shift) & np.uint64((1 << b) - 1)).astype(np.int64)
    else:
        out = np.zeros(n, dtype=np.int64)
    pos += packed_len
    if n_exc:
        tail = varint_decode(mv[pos:])
        exc_idx = delta_decode(tail[:n_exc])
        out[exc_idx] |= tail[n_exc:] << b
    return out


def encode_ints(values: np.ndarray, codec: str = "varint") -> bytes:
    """Encode one array as a TAGGED blob (format_version >= 12). pfor falls
    back to varint for values the packed path can't represent exactly."""
    v = np.asarray(values, dtype=np.int64)
    return encode_blocks(v, np.array([v.size]), codec)[0]


def decode_ints(blob: bytes) -> np.ndarray:
    """Decode a tagged blob, dispatching on the tag byte."""
    mv = memoryview(blob)
    if len(mv) == 0:
        return np.empty(0, dtype=np.int64)
    tag = mv[0]
    if tag == BLOB_VARINT:
        return varint_decode(mv[1:])
    if tag == BLOB_PFOR:
        return _pfor_decode(mv[1:])
    raise ValueError(f"unknown blob tag 0x{tag:02x} (index predates format 12?)")


# ------------------------------------------------------------ block codec ---


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, positions: np.ndarray | None):
    """Encode one posting block. Returns (doc_ids_b, tfs_b, positions_b)."""
    doc_b = varint_encode(delta_encode(doc_ids))
    tf_b = varint_encode(np.asarray(tfs, dtype=np.int64))
    if positions is None or len(positions) == 0:
        pos_b = b""
    else:
        pos_b = varint_encode(delta_encode_segmented(positions, np.asarray(tfs)))
    return doc_b, tf_b, pos_b


def decode_block(doc_b: bytes, tf_b: bytes, pos_b: bytes | None):
    """Decode one posting block. Returns (doc_ids, tfs, positions|None)."""
    doc_ids = delta_decode(varint_decode(doc_b))
    tfs = varint_decode(tf_b)
    positions = None
    if pos_b:
        positions = delta_decode_segmented(varint_decode(pos_b), tfs)
    return doc_ids, tfs, positions
