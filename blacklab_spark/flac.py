"""FLAC audio codec, pure python/numpy — decoder AND encoder (synth side).

Real compressed-audio decode for the multimodal pipeline (the audio
analog of the PNG/JPEG/GIF/VP8L image codecs): full FLAC frame layer per
the public format spec (RFC 9639) —

- STREAMINFO metadata block (other block types skipped by header walk).
- Frame headers: sync, blocking strategy, coded block size / sample rate,
  channel assignment (independent + left/side, right/side, mid/side
  stereo decorrelation), UTF-8-style frame number, CRC-8 (poly 0x07),
  frame CRC-16 (poly 0x8005) — both VERIFIED on decode.
- Subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC (any order,
  quantized coefficients + signed shift), wasted-bits unary prefix.
- Rice residuals: both coding methods (4- and 5-bit parameters),
  partition orders, escape-to-raw partitions, zigzag signed mapping.

The encoder writes CONSTANT/VERBATIM/FIXED/LPC subframes with real Rice
coding and real CRCs so every decoder path round-trips. Perceptual codecs
(MP3, AAC, Vorbis/Opus) need psychoacoustic filterbanks and stay the
honest boundary.

The reference engine treats audio as opaque blobs; this codec is part of
the training-data-pipeline extension surface.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_flac", "encode_flac", "is_flac"]

_BLOCKSIZE_CODE = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5, 256: 8,
                   512: 9, 1024: 10, 2048: 11, 4096: 12, 8192: 13,
                   16384: 14, 32768: 15}
_RATE_CODE = {88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
              24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11}
_RATE_FROM_CODE = {v: k for k, v in _RATE_CODE.items()}
_BPS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_BPS_FROM_CODE = {v: k for k, v in _BPS_CODE.items()}
_FIXED_COEFS = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def _crc8(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _MSBReader:
    """MSB-first bit reader with byte-aligned CRC window support."""

    def __init__(self, data: bytes, pos_bytes: int = 0):
        self.data = data
        self.pos = pos_bytes * 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.data) * 8:
            raise NotImplementedError("FLAC bitstream truncated")
        out = 0
        pos = self.pos
        while n > 0:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, n)
            out = (out << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            pos += take
            n -= take
        self.pos = pos
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
        return n

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


class _MSBWriter:
    def __init__(self):
        self.buf = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        value &= (1 << n) - 1 if n else 0
        for i in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def write_unary(self, q: int) -> None:
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def getvalue(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _utf8_number(bw: _MSBWriter, v: int) -> None:
    """FLAC frame-number coding (UTF-8-style, up to 36 bits)."""
    if v < 0x80:
        bw.write(v, 8)
        return
    for nbytes, bits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if v < (1 << bits):
            lead = (0xFF << (8 - nbytes)) & 0xFF
            bw.write(lead | (v >> (6 * (nbytes - 1))), 8)
            for k in range(nbytes - 2, -1, -1):
                bw.write(0x80 | ((v >> (6 * k)) & 0x3F), 8)
            return
    raise NotImplementedError("frame number too large")


def _read_utf8_number(br: _MSBReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n == 0:
        raise NotImplementedError("bad FLAC UTF-8 frame number")
    v = b0 & (mask - 1)
    for _ in range(n):
        nxt = br.read(8)
        if nxt & 0xC0 != 0x80:
            raise NotImplementedError("bad FLAC UTF-8 continuation")
        v = (v << 6) | (nxt & 0x3F)
    return v


def is_flac(b: bytes) -> bool:
    return bytes(b[:4]) == b"fLaC"


# ---------------------------------------------------------------------------
# rice residuals
# ---------------------------------------------------------------------------


def _zigzag(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v * 2, -v * 2 - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def _write_residuals(
    bw: _MSBWriter, res: np.ndarray, blocksize: int, pred_order: int,
    part_order: int, method: int = 0, escape: bool = False,
) -> None:
    bw.write(method, 2)
    bw.write(part_order, 4)
    pbits = 4 if method == 0 else 5
    nparts = 1 << part_order
    idx = 0
    for p in range(nparts):
        cnt = (blocksize >> part_order) - (pred_order if p == 0 else 0)
        chunk = res[idx : idx + cnt]
        idx += cnt
        if escape:  # raw-bits partition (parameter = all-ones sentinel)
            bw.write((1 << pbits) - 1, pbits)
            nbits = max(2, int(np.abs(chunk).max() if cnt else 0).bit_length() + 1)
            bw.write(nbits, 5)
            for v in chunk:
                bw.write(int(v), nbits)
            continue
        # pick a reasonable rice parameter
        mean = float(np.abs(chunk).mean()) if cnt else 0.0
        param = max(0, int(mean).bit_length())
        param = min(param, (1 << pbits) - 2)
        bw.write(param, pbits)
        for u in _zigzag(chunk.astype(np.int64)):
            u = int(u)
            bw.write_unary(u >> param)
            bw.write(u, param)


def _read_residuals(
    br: _MSBReader, blocksize: int, pred_order: int
) -> np.ndarray:
    method = br.read(2)
    if method > 1:
        raise NotImplementedError("reserved FLAC residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order = br.read(4)
    nparts = 1 << part_order
    out = np.empty(blocksize - pred_order, np.int64)
    idx = 0
    for p in range(nparts):
        cnt = (blocksize >> part_order) - (pred_order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:  # raw-bits partition
            nbits = br.read(5)
            for _ in range(cnt):
                out[idx] = br.read_signed(nbits) if nbits else 0
                idx += 1
        else:
            for _ in range(cnt):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out[idx] = _unzigzag(u)
                idx += 1
    return out


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_flac(b: bytes) -> dict | None:
    """Decode a FLAC payload to PCM: {"sample_rate", "n_channels",
    "bits_per_sample", "n_frames" (samples/channel), "duration_ms",
    "rms", "pcm" (n, ch) int32}. Frame CRC-8/16 verified. Returns None
    for non-FLAC payloads."""
    b = bytes(b)
    if not is_flac(b):
        return None
    pos = 4
    sinfo = None
    while True:
        hdr = b[pos]
        btype = hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + b[pos + 1 : pos + 4])
        body = b[pos + 4 : pos + 4 + ln]
        if btype == 0:
            br = _MSBReader(body)
            br.read(16)  # min blocksize
            br.read(16)
            br.read(24)
            br.read(24)
            rate = br.read(20)
            nch = br.read(3) + 1
            bps = br.read(5) + 1
            total = br.read(36)
            sinfo = (rate, nch, bps, total)
        pos += 4 + ln
        if hdr & 0x80:
            break
    if sinfo is None:
        raise NotImplementedError("FLAC without STREAMINFO")
    rate, nch, bps, total = sinfo

    chans_all = [[] for _ in range(nch)]
    got = 0
    while (total == 0 or got < total) and pos + 4 < len(b):
        hdr_start = pos
        br = _MSBReader(b, pos)
        sync = br.read(14)
        if sync != 0x3FFE:
            raise NotImplementedError("bad FLAC frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)
        _read_utf8_number(br)
        if bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODE.values():
            blocksize = {v: k for k, v in _BLOCKSIZE_CODE.items()}[bs_code]
        else:
            raise NotImplementedError(f"reserved block size code {bs_code}")
        if sr_code == 12:
            _ = br.read(8)
        elif sr_code in (13, 14):
            _ = br.read(16)
        elif sr_code not in _RATE_FROM_CODE and sr_code != 0:
            raise NotImplementedError(f"bad sample rate code {sr_code}")
        fbps = _BPS_FROM_CODE.get(bps_code, bps)
        crc_hdr = br.read(8)
        if crc_hdr != _crc8(b[hdr_start : br.byte_pos() - 1]):
            raise NotImplementedError("FLAC frame header CRC-8 mismatch")

        if ch_code < 8:
            n_sub = ch_code + 1
            assigns = ["indep"] * n_sub
        elif ch_code == 8:
            n_sub, assigns = 2, ["left", "side"]
        elif ch_code == 9:
            n_sub, assigns = 2, ["side", "right"]
        elif ch_code == 10:
            n_sub, assigns = 2, ["mid", "side"]
        else:
            raise NotImplementedError("reserved channel assignment")
        subs = []
        for si in range(n_sub):
            sbps = fbps + (1 if assigns[si] == "side" else 0)
            subs.append(_read_subframe(br, blocksize, sbps))
        br.align()
        crc_frame = br.read(16)
        if crc_frame != _crc16(b[hdr_start : br.byte_pos() - 2]):
            raise NotImplementedError("FLAC frame CRC-16 mismatch")
        pos = br.byte_pos()

        if ch_code == 8:  # left/side
            left = subs[0]
            right = left - subs[1]
            frame_ch = [left, right]
        elif ch_code == 9:  # right/side
            right = subs[1]
            left = subs[0] + right
            frame_ch = [left, right]
        elif ch_code == 10:  # mid/side
            mid, side = subs
            summ = (mid << 1) | (side & 1)
            frame_ch = [(summ + side) >> 1, (summ - side) >> 1]
        else:
            frame_ch = subs
        for c in range(nch):
            chans_all[c].append(frame_ch[c])
        got += blocksize

    pcm = np.stack(
        [np.concatenate(ch) if ch else np.zeros(0, np.int64) for ch in chans_all],
        axis=1,
    ).astype(np.int32)
    if total and pcm.shape[0] > total:
        pcm = pcm[:total]
    n = pcm.shape[0]
    rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) if n else 0.0
    return {
        "sample_rate": rate, "n_channels": nch, "bits_per_sample": bps,
        "n_frames": n, "duration_ms": n * 1000 // rate if rate else 0,
        "rms": rms, "pcm": pcm,
    }


def _read_subframe(br: _MSBReader, blocksize: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise NotImplementedError("bad subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        bps -= wasted
    if stype == 0:  # constant
        out = np.full(blocksize, br.read_signed(bps), np.int64)
    elif stype == 1:  # verbatim
        out = np.array([br.read_signed(bps) for _ in range(blocksize)], np.int64)
    elif 8 <= stype <= 12:  # fixed
        order = stype - 8
        warm = [br.read_signed(bps) for _ in range(order)]
        res = _read_residuals(br, blocksize, order)
        out = np.empty(blocksize, np.int64)
        out[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, blocksize):
            pred = sum(coefs[k] * out[i - 1 - k] for k in range(order))
            out[i] = res[i - order] + pred
    elif stype >= 32:  # LPC
        order = stype - 31
        warm = [br.read_signed(bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise NotImplementedError("invalid LPC precision code 15")
        shift = br.read_signed(5)
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _read_residuals(br, blocksize, order)
        out = np.empty(blocksize, np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            acc = sum(coefs[k] * int(out[i - 1 - k]) for k in range(order))
            out[i] = res[i - order] + (acc >> shift)
    else:
        raise NotImplementedError(f"reserved subframe type {stype}")
    return out << wasted if wasted else out


# ---------------------------------------------------------------------------
# encoder (synth side)
# ---------------------------------------------------------------------------


def _write_subframe(
    bw: _MSBWriter, x: np.ndarray, bps: int, mode: str, part_order: int,
    rice_method: int, escape: bool = False,
) -> None:
    n = len(x)
    if mode == "constant" and (x == x[0]).all():
        bw.write(0, 1)
        bw.write(0, 6)
        bw.write(0, 1)
        bw.write(int(x[0]), bps)
        return
    if mode == "verbatim":
        bw.write(0, 1)
        bw.write(1, 6)
        bw.write(0, 1)
        for v in x:
            bw.write(int(v), bps)
        return
    if mode.startswith("fixed"):
        order = int(mode[-1])
        bw.write(0, 1)
        bw.write(8 + order, 6)
        bw.write(0, 1)
        for v in x[:order]:
            bw.write(int(v), bps)
        coefs = _FIXED_COEFS[order]
        res = np.array([
            int(x[i]) - sum(coefs[k] * int(x[i - 1 - k]) for k in range(order))
            for i in range(order, n)
        ], np.int64)
        _write_residuals(bw, res, n, order, part_order, rice_method, escape)
        return
    if mode == "lpc":
        # order-2 LPC with quantized coefficients [~1.5, ~-0.5], shift 4
        order, precision, shift = 2, 6, 4
        coefs = [24, -8]  # 1.5*16, -0.5*16
        bw.write(0, 1)
        bw.write(32 + order - 1, 6)
        bw.write(0, 1)
        for v in x[:order]:
            bw.write(int(v), bps)
        bw.write(precision - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c, precision)
        res = np.array([
            int(x[i]) - ((coefs[0] * int(x[i - 1]) + coefs[1] * int(x[i - 2])) >> shift)
            for i in range(order, n)
        ], np.int64)
        _write_residuals(bw, res, n, order, part_order, rice_method, escape)
        return
    raise NotImplementedError(f"encoder mode {mode}")


def encode_flac(
    pcm: np.ndarray, sample_rate: int = 44100, bps: int = 16, *,
    blocksize: int = 256, mode: str = "fixed1", part_order: int = 0,
    rice_method: int = 0, stereo: str = "indep", escape: bool = False,
) -> bytes:
    """Encode (n,) or (n, ch) int PCM as a real FLAC file. `mode`:
    constant/verbatim/fixed0-4/lpc; `stereo`: indep/left_side/right_side/
    mid_side (2-channel input only). Real Rice residuals and CRCs."""
    pcm = np.asarray(pcm, np.int64)
    if pcm.ndim == 1:
        pcm = pcm[:, None]
    n, nch = pcm.shape
    if stereo != "indep" and nch != 2:
        raise NotImplementedError("stereo decorrelation needs 2 channels")

    si = _MSBWriter()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(nch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    streaminfo = si.getvalue() + b"\x00" * 16  # md5 unset (zeros)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    for fi, start in enumerate(range(0, n, blocksize)):
        block = pcm[start : start + blocksize]
        bs = block.shape[0]
        bw = _MSBWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)  # fixed blocksize strategy
        bs_code = _BLOCKSIZE_CODE.get(bs, 7)
        bw.write(bs_code, 4)
        bw.write(_RATE_CODE.get(sample_rate, 0), 4)
        if stereo == "left_side":
            bw.write(8, 4)
        elif stereo == "right_side":
            bw.write(9, 4)
        elif stereo == "mid_side":
            bw.write(10, 4)
        else:
            bw.write(nch - 1, 4)
        bw.write(_BPS_CODE[bps], 3)
        bw.write(0, 1)
        _utf8_number(bw, fi)
        if bs_code == 6:
            bw.write(bs - 1, 8)
        elif bs_code == 7:
            bw.write(bs - 1, 16)
        bw.align()  # header fields above are already byte-aligned
        hdr_bytes = bw.getvalue()
        bw = _MSBWriter()
        bw.buf = bytearray(hdr_bytes)
        bw.write(_crc8(hdr_bytes), 8)

        if stereo == "indep":
            subs = [(block[:, c], bps) for c in range(nch)]
        else:
            left = block[:, 0]
            right = block[:, 1]
            side = left - right
            if stereo == "left_side":
                subs = [(left, bps), (side, bps + 1)]
            elif stereo == "right_side":
                subs = [(side, bps + 1), (right, bps)]
            else:
                mid = (left + right) >> 1
                subs = [(mid, bps), (side, bps + 1)]
        for x, sbps in subs:
            m = mode
            if m == "constant" and not (x == x[0]).all():
                m = "verbatim"
            _write_subframe(bw, x, sbps, m, part_order, rice_method, escape)
        bw.align()
        body = bw.getvalue()
        bw.write(_crc16(body), 16)
        out += bw.getvalue()
    return bytes(out)
