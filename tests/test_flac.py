"""FLAC codec (flac.py): encoder/decoder round-trips over every subframe
type, stereo decorrelation mode, Rice method/partition/escape shape, plus
spec-level checks (CRC polynomials against hand-computed values, UTF-8
frame-number coding, zigzag mapping, fixed-predictor coefficients) and
CRC-verification negative tests."""

import numpy as np
import pytest

from blacklab_spark import flac

RNG = np.random.RandomState(11)
MONO = RNG.randint(-3000, 3000, 700)
STEREO = RNG.randint(-3000, 3000, (512, 2))


def _rt(pcm, **kw):
    d = flac.decode_flac(flac.encode_flac(pcm, **kw))
    exp = np.asarray(pcm, np.int64)
    if exp.ndim == 1:
        exp = exp[:, None]
    assert d["pcm"].shape == exp.shape
    assert np.array_equal(d["pcm"], exp), kw
    return d


@pytest.mark.parametrize(
    "mode", ["constant", "verbatim", "fixed0", "fixed1", "fixed2", "fixed3",
             "fixed4", "lpc"]
)
def test_roundtrip_subframe_types(mode):
    x = np.full(300, 123) if mode == "constant" else MONO[:300]
    _rt(x, mode=mode)


@pytest.mark.parametrize("stereo", ["indep", "left_side", "right_side", "mid_side"])
def test_roundtrip_stereo_decorrelation(stereo):
    _rt(STEREO, mode="fixed2", stereo=stereo, blocksize=128)


def test_roundtrip_partitions_rice5_escape_partial_block():
    _rt(MONO, mode="fixed1", part_order=2, blocksize=128, rice_method=1)
    _rt(MONO[:256], mode="fixed1", escape=True)
    _rt(MONO[:300], mode="fixed1", blocksize=256)  # 300 = 256 + partial 44


def test_metadata_fields():
    d = _rt(np.full(1000, 777), mode="constant", sample_rate=8000)
    assert d["sample_rate"] == 8000
    assert d["n_frames"] == 1000
    assert d["duration_ms"] == 125
    assert d["rms"] == 777.0
    assert d["n_channels"] == 1 and d["bits_per_sample"] == 16


def test_rejects_non_flac():
    assert flac.decode_flac(b"not a flac") is None
    assert not flac.is_flac(b"fLaX....")


def test_crc_verification_catches_corruption():
    b = bytearray(flac.encode_flac(MONO[:256], mode="fixed1"))
    b[-3] ^= 0x40  # flip a bit in the last frame's body
    with pytest.raises(NotImplementedError, match="CRC"):
        flac.decode_flac(bytes(b))


# ------------------------------------------------------------ spec-level ----


def test_crc_polynomials_hand_computed():
    # CRC-8 poly 0x07 of a single zero byte is 0; of 0x01 it's 0x07
    assert flac._crc8(b"\x00") == 0
    assert flac._crc8(b"\x01") == 0x07
    # CRC-8 of "123456789" (standard check string) = 0xF4 for poly 0x07
    assert flac._crc8(b"123456789") == 0xF4
    # CRC-16/BUYPASS (poly 0x8005, init 0, no reflect) check = 0xFEE8
    assert flac._crc16(b"123456789") == 0xFEE8


def test_utf8_frame_number_roundtrip():
    for v in [0, 1, 127, 128, 2047, 2048, 65535, 1 << 20, (1 << 31) - 5]:
        bw = flac._MSBWriter()
        flac._utf8_number(bw, v)
        assert flac._read_utf8_number(flac._MSBReader(bw.getvalue())) == v


def test_zigzag_mapping():
    assert [flac._unzigzag(u) for u in range(6)] == [0, -1, 1, -2, 2, -3]
    vals = np.array([0, -1, 1, -2, 2, -3])
    assert flac._zigzag(vals).tolist() == [0, 1, 2, 3, 4, 5]


def test_fixed_predictor_coefficients_are_binomial():
    assert flac._FIXED_COEFS == [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def test_wasted_bits_decode():
    # hand-drive a subframe with wasted bits: constant value 8 = 1 << 3
    # stored as wasted=3, constant 1
    bw = flac._MSBWriter()
    bw.write(0, 1)  # pad
    bw.write(0, 6)  # constant
    bw.write(1, 1)  # wasted-bits flag
    bw.write_unary(2)  # k=2 -> wasted = 3
    bw.write(1, 16 - 3)  # constant value in reduced bps
    bw.align()
    out = flac._read_subframe(flac._MSBReader(bw.getvalue()), 10, 16)
    assert (out == 8).all()
