"""WebP lossless (VP8L) codec: encoder/decoder round-trips over every
option combination, plus SPEC-LEVEL tests that do not share code with the
codec (hand-built bitstreams, an independent predictor implementation,
canonical-code convention checks) — the JPEG round's lesson: round-trips
alone cannot catch conjugate encoder+decoder bugs."""

import struct

import numpy as np
import pytest

from blacklab_spark import vp8l


def _rt(px, **opts):
    d = vp8l.decode_vp8l(vp8l.encode_vp8l(px, **opts))
    assert (d["width"], d["height"]) == (px.shape[1], px.shape[0])
    got = d["pixels"]
    if px.shape[2] == 4 and d["channels"] == 3:
        assert (px[:, :, 3] == 255).all()
        px = px[:, :, :3]
    assert np.array_equal(got, px), opts
    return d


RNG = np.random.RandomState(7)
PX = RNG.randint(0, 256, (13, 17, 3), np.uint8)


def test_roundtrip_plain_and_subtract_green():
    _rt(PX)
    _rt(PX, subtract_green=True)


@pytest.mark.parametrize("mode", range(14))
def test_roundtrip_all_predictor_modes(mode):
    _rt(PX, predictor_mode=mode)


def test_roundtrip_cross_color_and_combined():
    _rt(PX, color_transform=(12, 250, 3))
    _rt(PX, subtract_green=True, color_transform=(200, 10, 128), predictor_mode=11)


def test_roundtrip_cache_lz77_meta():
    _rt(PX, cache_bits=4)
    _rt(np.tile(PX[:1, :1], (13, 17, 1)), use_lz77=True)
    _rt(np.repeat(PX[:, :4], 5, axis=1)[:, :17], use_lz77=True, cache_bits=6)
    _rt(PX, meta_bits=2)


@pytest.mark.parametrize("nc", [2, 3, 9, 40, 200])
def test_roundtrip_palette_bundling_widths(nc):
    vals = RNG.randint(0, 256, (nc, 3), np.uint8)
    ppx = vals[RNG.randint(0, nc, (11, 23))]
    _rt(ppx, palette=True)


def test_roundtrip_alpha():
    pxa = RNG.randint(0, 256, (9, 9, 4), np.uint8)
    d = _rt(pxa)
    assert d["channels"] == 4
    opaque = PX  # 3-channel input -> alpha synthesized as 255 -> 3 channels out
    assert _rt(opaque)["channels"] == 3


def test_constant_image_compresses_to_bytes():
    # 1-symbol simple codes cost 0 bits/pixel: a 64x64 constant image must
    # be tens of bytes, not thousands
    px = np.full((64, 64, 3), 129, np.uint8)
    data = vp8l.encode_vp8l(px, use_lz77=True)
    assert len(data) < 40
    _rt(px, use_lz77=True)


# ------------------------------------------------------------ spec-level ----


def test_canonical_code_convention_hand_computed():
    # DEFLATE canonical assignment for lengths [2,1,3,3]:
    # sym1: 0; sym0: 10; sym2: 110; sym3: 111 (MSB-first on the wire)
    codes = vp8l._canonical_codes([2, 1, 3, 3])
    assert codes == {1: (0b0, 1), 0: (0b10, 2), 2: (0b110, 3), 3: (0b111, 3)}
    # decoder must invert it bit-exactly
    bw = vp8l._BitWriter()
    for sym in (3, 1, 0, 2, 1):
        vp8l._write_code_msb(bw, *codes[sym])
    br = vp8l._BitReader(bw.getvalue())
    pc = vp8l._PrefixCode([2, 1, 3, 3])
    assert [pc.decode(br) for _ in range(5)] == [3, 1, 0, 2, 1]


def test_prefix_code_rejects_incomplete():
    with pytest.raises(NotImplementedError):
        vp8l._PrefixCode([1, 0, 3, 3])  # under-subscribed
    with pytest.raises(NotImplementedError):
        vp8l._PrefixCode([1, 1, 1, 0])  # over-subscribed


def test_lz77_value_coding_spec_table():
    # spec: codes 0..3 -> 1..4; then (2+(code&1)) << extra + extra bits + 1
    cases = {1: (0, 0, 0), 4: (3, 0, 0), 5: (4, 1, 0), 6: (4, 1, 1),
             7: (5, 1, 0), 9: (6, 2, 0), 12: (6, 2, 3), 13: (7, 2, 0)}
    for v, (code, eb, ev) in cases.items():
        assert vp8l._lz77_code_for(v) == (code, eb, ev), v
        bw = vp8l._BitWriter()
        bw.write(ev, eb)
        assert vp8l._lz77_decode_value(code, vp8l._BitReader(bw.getvalue())) == v


def test_code_length_code_order_is_spec():
    assert vp8l._CLCODE_ORDER == [
        17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15
    ]


def test_distance_map_2d_neighborhood_hand_built_stream():
    # Hand-build a stream: 4 literal pixels (row 0), then a copy of length 4
    # with dist_code=1 -> map entry (0,1) -> distance = width. Row 1 must
    # equal row 0. Uses the writer primitives only (no encode_vp8l).
    w, h = 4, 2
    row = [(255, 10, 20, 30), (255, 11, 21, 31), (255, 12, 22, 32), (255, 13, 23, 33)]
    bw = vp8l._BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    tokens = [("lit", a, r, g, b) for a, r, g, b in row] + [("copy", 4, 1)]
    vp8l._encode_entropy_image(bw, tokens, 0, True)
    d = vp8l.decode_vp8l(bw.getvalue())
    px = d["pixels"]
    assert np.array_equal(px[0], px[1])
    assert px[0, 2].tolist() == [12, 22, 32]  # r, g, b of third literal


def test_distance_map_spec_properties():
    # head matches the RFC 9649 listing; full table is the unique inverse
    # of the 8x16 plane_to_code_lut grid (dy 0..7, dx -7..8, dist >= 1)
    assert vp8l._DIST_MAP[:24] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    ]
    assert len(vp8l._DIST_MAP) == 120
    assert len(set(vp8l._DIST_MAP)) == 120
    for dx, dy in vp8l._DIST_MAP:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        assert not (dy == 0 and dx <= 0)  # every entry is a valid back-ref


def test_predictors_match_independent_implementation():
    # An independent, vectorized re-implementation of the 14 modes (numpy
    # int arithmetic, different code shape) must agree with _predict on
    # random interior pixels.
    rng = np.random.RandomState(3)
    w = 9
    img = rng.randint(0, 2 ** 32, 3 * w, np.uint64).astype(np.uint32)

    def ch(p):
        return np.array([(p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF], int)

    def pk(c):
        return (int(c[0]) << 24) | (int(c[1]) << 16) | (int(c[2]) << 8) | int(c[3])

    for pos in range(w + 1, 3 * w - 1):
        if pos % w == 0:  # first column never reaches _predict (caller uses T)
            continue
        L, T, TL, TR = (int(img[pos - 1]), int(img[pos - w]),
                        int(img[pos - w - 1]), int(img[pos - w + 1]))
        cl, ct, ctl, ctr = ch(L), ch(T), ch(TL), ch(TR)
        exp = {
            0: 0xFF000000, 1: L, 2: T, 3: TR, 4: TL,
            5: pk(((cl + ctr) // 2 + ct) // 2),
            6: pk((cl + ctl) // 2),
            7: pk((cl + ct) // 2),
            8: pk((ctl + ct) // 2),
            9: pk((ct + ctr) // 2),
            10: pk(((cl + ctl) // 2 + (ct + ctr) // 2) // 2),
            12: pk(np.clip(cl + ct - ctl, 0, 255)),
        }
        p = cl + ct - ctl
        exp[11] = L if np.abs(p - cl).sum() < np.abs(p - ct).sum() else T
        avg = (cl + ct) // 2
        d = avg - ctl
        half = np.where(d >= 0, d // 2, -((-d) // 2))
        exp[13] = pk(np.clip(avg + half, 0, 255))
        for mode, want in exp.items():
            got = vp8l._predict(mode, img, w, pos)
            assert got == want, (mode, pos, hex(got), hex(int(want)))


def test_color_transform_delta_signed_semantics():
    # t=0xFF (-1), c=0x80 (-128): (-1 * -128) >> 5 = 4
    assert vp8l._ct_delta(0xFF, 0x80) == 4
    # t=0x20 (32), c=0x40 (64): (32*64)>>5 = 64
    assert vp8l._ct_delta(0x20, 0x40) == 64
    # arithmetic shift on negatives: (-33) >> 5 == -2 (floor), not -1
    assert vp8l._ct_delta(0xFF, 0x21) == -2


# ------------------------------------------------------------ container ----


def test_webp_container_roundtrip_and_padding():
    px = RNG.randint(0, 256, (5, 7, 3), np.uint8)
    b = vp8l.encode_webp_lossless(px)
    assert b[:4] == b"RIFF" and b[8:12] == b"WEBP"
    assert len(b) % 2 == 0  # chunk padding keeps RIFF even
    d = vp8l.decode_webp(b)
    assert np.array_equal(d["pixels"], px)


def test_webp_lossy_raises_honest_boundary():
    fake_vp8 = (
        b"RIFF" + struct.pack("<I", 16) + b"WEBP"
        + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError, match="lossy"):
        vp8l.decode_webp(fake_vp8)
    anim = (
        b"RIFF" + struct.pack("<I", 16) + b"WEBP"
        + b"ANIM" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError, match="animated"):
        vp8l.decode_webp(anim)


def test_webp_vp8x_wrapper_reaches_vp8l():
    px = np.full((3, 4, 3), 55, np.uint8)
    payload = vp8l.encode_vp8l(px)
    if len(payload) & 1:
        padded = payload + b"\x00"
    else:
        padded = payload
    inner = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + padded
    b = b"RIFF" + struct.pack("<I", 4 + len(inner) + len(chunk)) + b"WEBP" + inner + chunk
    d = vp8l.decode_webp(b)
    assert d["width"] == 4 and float(d["pixels"].mean()) == 55.0


# ------------------------------------------------------------ property ----

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    w=st.integers(1, 24), h=st.integers(1, 12), seed=st.integers(0, 2**31 - 1),
    channels=st.sampled_from([3, 4]),
    opt=st.sampled_from([
        {}, {"subtract_green": True}, {"cache_bits": 3},
        {"use_lz77": True}, {"use_lz77": True, "cache_bits": 5},
        {"palette": True}, {"meta_bits": 3},
        *[{"predictor_mode": m} for m in range(14)],
        {"color_transform": (5, 200, 100)},
        {"subtract_green": True, "predictor_mode": 12, "cache_bits": 2},
    ]),
)
def test_vp8l_roundtrip_property(w, h, seed, channels, opt):
    rng = np.random.RandomState(seed)
    # low-cardinality values keep palette mode valid and LZ77/cache busy
    px = (rng.randint(0, 5, (h, w, channels)) * 61 % 256).astype(np.uint8)
    _rt(px, **opt)
