"""Media containers (mp4.py / mp3.py): REAL ISO-BMFF box-tree parsing +
vectorized sample-table resolution + actual sample extraction from mdat,
and REAL MPEG-1 Layer III frame-header walking — each round-tripped
against its deterministic writer. Codec bitstream decode inside samples
stays the honest boundary and is NOT attempted."""

import struct

import numpy as np
import pytest

from blacklab_spark import mp3 as M3
from blacklab_spark import mp4 as M4


def _frames(n, tag="x"):
    return [f"{tag}:{fi}".encode() * (1 + fi) for fi in range(n)]


# ---------------------------------------------------------------- MP4 ----


def test_mp4_parse_metadata_two_tracks():
    b = M4.build_mp4(_frames(7), 32, 16, audio_samples=[b"a" * 11, b"b" * 12])
    m = M4.parse_mp4(b)
    assert m["brand"] == "isom"
    assert m["n_tracks"] == 2
    assert m["duration_ms"] == 7 * 40
    vid, aud = m["tracks"]
    assert (vid["handler"], vid["codec"]) == ("vide", "mp4v")
    assert (vid["width"], vid["height"], vid["n_samples"]) == (32, 16, 7)
    assert vid["n_keyframes"] == 4  # every 2nd of 7 -> samples 1,3,5,7
    assert (aud["handler"], aud["codec"]) == ("soun", "mp4a")
    assert (aud["channels"], aud["sample_rate"], aud["n_samples"]) == (1, 8000, 2)
    assert aud["n_keyframes"] == 2  # no stss -> every sample is sync


def test_mp4_extract_samples_exact_bytes_both_tracks():
    frames = _frames(6, "doc9")
    audio = [bytes([i]) * (5 + i) for i in range(5)]
    b = M4.build_mp4(frames, 48, 32, audio_samples=audio, samples_per_chunk=3)
    assert [s[3] for s in M4.extract_samples(b, 0)] == frames
    assert [s[3] for s in M4.extract_samples(b, 1)] == audio
    # dts from stts: 40ms ticks at timescale 1000
    assert [s[1] for s in M4.extract_samples(b, 0)] == [0, 40, 80, 120, 160, 200]


def test_mp4_keyframes_only_and_max_samples():
    b = M4.build_mp4(_frames(9), 16, 16, keyframe_every=3)
    ks = M4.extract_samples(b, 0, keyframes_only=True)
    assert [s[0] for s in ks] == [0, 3, 6]
    assert all(s[2] for s in ks)
    assert [s[0] for s in M4.extract_samples(b, 0, keyframes_only=True, max_samples=2)] == [0, 3]


def test_mp4_chunk_layout_short_last_chunk():
    # 7 samples, 3 per chunk -> chunks of 3,3,1: stsc needs TWO entries and
    # within-chunk offsets must restart at each chunk boundary
    frames = _frames(7)
    b = M4.build_mp4(frames, 16, 16, samples_per_chunk=3)
    st = M4.sample_table(b, 0)
    sizes = np.array([len(f) for f in frames])
    # chunk starts: samples 0,3,6; sample 3's offset == chunk1 offset
    base = st["offsets"][0]
    assert st["offsets"][3] == base + sizes[:3].sum()
    assert st["offsets"][6] == base + sizes[:6].sum()
    assert [s[3] for s in M4.extract_samples(b, 0)] == frames


def test_mp4_co64_offsets():
    frames = _frames(4)
    b = M4.build_mp4(frames, 16, 16, co64=True)
    assert b.find(b"co64") > 0 and b.find(b"stco") < 0
    assert [s[3] for s in M4.extract_samples(b, 0)] == frames


def test_mp4_largesize_and_size0_boxes():
    # rewrite the mdat header as a 64-bit largesize box; parse must still walk
    b = M4.build_mp4(_frames(3), 16, 16)
    mdat_pos = b.find(b"mdat") - 4
    size = struct.unpack_from(">I", b, mdat_pos)[0]
    patched = (
        b[:mdat_pos]
        + struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", size + 8)
        + b[mdat_pos + 8 : mdat_pos + size]
        + b[mdat_pos + size :]
    )
    m = M4.parse_mp4(patched)
    assert m["n_tracks"] == 1 and m["tracks"][0]["n_samples"] == 3
    # NB sample offsets shifted by 8 — metadata parse is offset-independent


def test_mp4_not_mp4_and_corrupt():
    assert M4.parse_mp4(b"definitely not an mp4") is None
    assert not M4.is_mp4(b"BM" + b"\x00" * 40)
    bad = M4.build_mp4(_frames(3), 16, 16)[:40]  # truncated inside mdat
    with pytest.raises(NotImplementedError):
        M4.parse_mp4(bad)


def test_mp4_sample_table_vectorized_consistency():
    # 100 samples across varying chunk sizes: offsets strictly increasing,
    # contiguous within the file, keyframe mask matches stss stride
    frames = [bytes([i % 251]) * (1 + i % 17) for i in range(100)]
    b = M4.build_mp4(frames, 64, 64, samples_per_chunk=4, keyframe_every=5)
    st = M4.sample_table(b, 0)
    assert st["sizes"].tolist() == [len(f) for f in frames]
    assert (np.diff(st["offsets"]) > 0).all()
    assert st["keyframe"].sum() == 20
    assert st["keyframe"][::5].all()


# ---------------------------------------------------------------- MP3 ----


def test_mp3_roundtrip_fields():
    b = M3.build_mp3(25, 64, 32000, 1, id3_tag=b"x" * 40, pad_every=3)
    m = M3.parse_mp3(b)
    assert m == {
        "mpeg_version": 1, "bitrate_kbps": 64, "sample_rate": 32000,
        "channels": 1, "n_frames": 25,
        "duration_ms": 25 * 1152 * 1000 // 32000, "has_id3": True,
        "vbr": False,
    }


def test_mp3_no_tag_stereo():
    m = M3.parse_mp3(M3.build_mp3(10, 128, 44100, 2))
    assert (m["channels"], m["has_id3"], m["n_frames"]) == (2, False, 10)
    assert m["duration_ms"] == 10 * 1152 * 1000 // 44100


def test_mp3_padding_changes_frame_len_not_count():
    plain = M3.build_mp3(12, 128, 44100, 2)
    padded = M3.build_mp3(12, 128, 44100, 2, pad_every=2)
    assert len(padded) == len(plain) + 6  # 6 padded frames, +1 byte each
    assert M3.parse_mp3(padded)["n_frames"] == 12


def test_mp3_resync_over_garbage():
    a = M3.build_mp3(5, 128, 44100, 2)
    b = M3.build_mp3(5, 128, 44100, 2)
    m = M3.parse_mp3(a + b"\x00garbage\x00" + b)
    assert m["n_frames"] == 10


def test_mp3_vbr_flag_on_mixed_bitrates():
    mixed = M3.build_mp3(5, 128, 44100, 2) + M3.build_mp3(5, 192, 44100, 2)
    m = M3.parse_mp3(mixed)
    assert m["vbr"] is True and m["n_frames"] == 10
    # duration still exact: same rate, 10 frames
    assert m["duration_ms"] == 10 * 1152 * 1000 // 44100


def test_mp3_rejects_non_mp3():
    assert M3.parse_mp3(b"RIFF....WAVE") is None
    assert M3.parse_mp3(b"") is None
    assert not M3.is_mp3(b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + b"\x00" * 20)
