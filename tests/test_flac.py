"""FLAC codec contract tests.

Round-trip tests cover the encoder's emitted subset (FIXED 0-2 +
single-partition Rice); hand-built bitstreams cover the decoder-only
surface a real third-party encoder would emit — LPC subframes,
mid/side and left/side stereo decorrelation, VERBATIM, escape
partitions, multi-partition Rice, wasted bits — each validated
against a directly-computed numpy reconstruction, so the decoder is
checked by an independent path, not by its own inverse.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geo_big_data_analysis_spark.sources.bitstream import MsbWriter
from geo_big_data_analysis_spark.sources.flac import (
    _crc8,
    _crc16,
    _write_utf8_number,
    is_flac,
    read_flac,
    write_flac,
)


def test_roundtrip_stereo_random():
    rng = np.random.RandomState(3)
    a = rng.randint(-30000, 30000, size=(5000, 2)).astype(np.int64)
    dec, rate = read_flac(write_flac(a, 44100, bps=16, blocksize=1024))
    assert rate == 44100
    assert np.array_equal(dec, a)


def test_roundtrip_compresses_smooth_signal():
    t = np.arange(8000)
    s = (1000 * np.sin(t / 50)).astype(np.int64)
    enc = write_flac(s, 16000, bps=16, blocksize=1024)
    dec, _ = read_flac(enc)
    assert np.array_equal(dec[:, 0], s)
    assert len(enc) < s.size * 2 * 0.2  # fixed predictor + Rice really compress


@pytest.mark.parametrize("bps", [8, 16])
@pytest.mark.parametrize("n_ch", [1, 3])
def test_roundtrip_shapes(bps, n_ch):
    rng = np.random.RandomState(bps * 10 + n_ch)
    lim = 2 ** (bps - 1) - 1
    a = rng.randint(-lim, lim, size=(777, n_ch)).astype(np.int64)
    dec, rate = read_flac(write_flac(a, 11025, bps=bps, blocksize=300))
    assert rate == 11025
    assert np.array_equal(dec, a)


def test_roundtrip_constant_block():
    c = np.full(500, 42, dtype=np.int64)
    dec, _ = read_flac(write_flac(c, 8000, bps=8, blocksize=192))
    assert np.array_equal(dec[:, 0], c)


def test_is_flac_and_bad_input():
    assert is_flac(b"fLaC\x00\x00\x00\x00")
    assert not is_flac(b"RIFF....WAVE")
    with pytest.raises(ValueError):
        read_flac(b"not a flac stream at all")


def test_crc_detects_corruption():
    a = np.arange(400, dtype=np.int64) % 100
    enc = bytearray(write_flac(a, 16000, blocksize=400))
    enc[-10] ^= 0xFF  # flip a bit inside the frame body
    with pytest.raises(ValueError, match="CRC"):
        read_flac(bytes(enc))


# ---------------------------------------------------------------------------
# Hand-built streams: decoder-only surface
# ---------------------------------------------------------------------------

def _streaminfo(rate, n_ch, bps, total, blocksize):
    si = bytearray()
    si += struct.pack(">HH", blocksize, blocksize)
    si += b"\x00\x00\x00" * 2
    packed = (rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | total
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si)


def _frame_header(w: MsbWriter, blocksize, ch_code, bps_code):
    w.write(0x3FFE, 14)
    w.write(0, 2)          # fixed blocksize
    w.write(7, 4)          # 16-bit blocksize-1 follows
    w.write(5, 4)          # 16 kHz
    w.write(ch_code, 4)
    w.write(bps_code, 3)
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(blocksize - 1, 16)
    w.write(_crc8(w.getvalue()), 8)


def _finish_frame(w: MsbWriter) -> bytes:
    frame = w.getvalue()
    return frame + struct.pack(">H", _crc16(frame))


def _write_rice(w, res, k, part_order=0, order=0, blocksize=None):
    w.write(0, 2)
    w.write(part_order, 4)
    n_parts = 1 << part_order
    pos = 0
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        w.write(k, 4)
        for v in res[pos : pos + n]:
            folded = (int(v) << 1) ^ (int(v) >> 63)
            w.unary(folded >> k)
            if k:
                w.write(folded & ((1 << k) - 1), k)
        pos += n


def test_decode_verbatim_and_escape_partition():
    """Channel 0: VERBATIM. Channel 1: FIXED order 0 with an ESCAPE
    (raw 9-bit) residual partition."""
    bs = 64
    rng = np.random.RandomState(11)
    c0 = rng.randint(-200, 200, bs).astype(np.int64)
    c1 = rng.randint(-200, 200, bs).astype(np.int64)
    w = MsbWriter()
    _frame_header(w, bs, ch_code=1, bps_code=4)  # 2 independent ch, 16-bit
    # ch0 VERBATIM
    w.write(0, 1); w.write(1, 6); w.write(0, 1)
    for v in c0:
        w.write(int(v), 16)
    # ch1 FIXED order 0, escape partition: raw 10-bit residuals
    w.write(0, 1); w.write(8, 6); w.write(0, 1)
    w.write(0, 2)      # rice method 0
    w.write(0, 4)      # partition order 0
    w.write(0xF, 4)    # escape
    w.write(10, 5)     # raw bit width
    for v in c1:
        w.write(int(v), 10)
    data = _streaminfo(16000, 2, 16, bs, bs) + _finish_frame(w)
    dec, rate = read_flac(data)
    assert rate == 16000
    assert np.array_equal(dec[:, 0], c0)
    assert np.array_equal(dec[:, 1], c1)


def test_decode_lpc_subframe():
    """LPC order 2, coefs [3, -1], shift 1: s[i] = res[i] +
    ((3*s[i-1] - s[i-2]) >> 1) — reconstruction computed independently
    in the test body."""
    bs = 48
    warm = [100, 103]
    res = (np.arange(bs - 2) % 7 - 3).astype(np.int64)
    coefs, shift, precision = [3, -1], 1, 5
    w = MsbWriter()
    _frame_header(w, bs, ch_code=0, bps_code=4)
    w.write(0, 1); w.write(32 + 1, 6); w.write(0, 1)  # LPC order 2 = 0b100001+... type 1xxxxx, order-1=1
    for v in warm:
        w.write(v, 16)
    w.write(precision - 1, 4)
    w.write(shift, 5)
    for c in coefs:
        w.write(c, precision)
    _write_rice(w, res, k=2, order=2, blocksize=bs)
    data = _streaminfo(16000, 1, 16, bs, bs) + _finish_frame(w)
    dec, _ = read_flac(data)
    exp = np.empty(bs, dtype=np.int64)
    exp[:2] = warm
    for i in range(2, bs):
        exp[i] = res[i - 2] + ((3 * exp[i - 1] - exp[i - 2]) >> 1)
    assert np.array_equal(dec[:, 0], exp)


def test_decode_lpc_negative_shift_named_error():
    """A (spec-invalid) negative LPC shift raises a named format error,
    not a bare 'negative shift count' from the '>>' operator."""
    bs = 16
    w = MsbWriter()
    _frame_header(w, bs, ch_code=0, bps_code=4)
    w.write(0, 1); w.write(32 + 1, 6); w.write(0, 1)  # LPC order 2
    for v in (10, 11):
        w.write(v, 16)
    w.write(4, 4)        # precision-1 = 4
    w.write(0x1F, 5)     # shift = -1 as signed 5-bit
    data = _streaminfo(16000, 1, 16, bs, bs) + _finish_frame(w)
    with pytest.raises(ValueError, match="negative LPC shift"):
        read_flac(data)


def test_reserved_blocksize_code_named_error():
    """bs_code 0 is reserved — decoder names the malformed field instead
    of raising a bare KeyError."""
    bs = 16
    w = MsbWriter()
    w.write(0x3FFE, 14)
    w.write(0, 2)          # fixed blocksize
    w.write(0, 4)          # RESERVED blocksize code
    w.write(5, 4)          # 16 kHz
    w.write(0, 4)          # mono
    w.write(4, 3)          # 16-bit
    w.write(0, 1)
    _write_utf8_number(w, 0)
    w.write(_crc8(w.getvalue()), 8)
    data = _streaminfo(16000, 1, 16, bs, bs) + _finish_frame(w)
    with pytest.raises(ValueError, match="reserved blocksize"):
        read_flac(data)


@pytest.mark.parametrize("ch_code", [8, 9, 10])
def test_decode_stereo_decorrelation(ch_code):
    """left/side (8), right/side (9), mid/side (10) — VERBATIM
    subframes so the decorrelation math is the only moving part; the
    side channel carries bps+1 bits per spec."""
    bs = 32
    rng = np.random.RandomState(ch_code)
    left = rng.randint(-1000, 1000, bs).astype(np.int64)
    right = rng.randint(-1000, 1000, bs).astype(np.int64)
    side = left - right
    mid = (left + right) >> 1
    w = MsbWriter()
    _frame_header(w, bs, ch_code=ch_code, bps_code=4)

    def verbatim(vals, bits):
        w.write(0, 1); w.write(1, 6); w.write(0, 1)
        for v in vals:
            w.write(int(v), bits)

    if ch_code == 8:
        verbatim(left, 16); verbatim(side, 17)
    elif ch_code == 9:
        verbatim(side, 17); verbatim(right, 16)
    else:
        verbatim(mid, 16); verbatim(side, 17)
    data = _streaminfo(16000, 2, 16, bs, bs) + _finish_frame(w)
    dec, _ = read_flac(data)
    assert np.array_equal(dec[:, 0], left)
    assert np.array_equal(dec[:, 1], right)


def test_decode_wasted_bits_and_multipartition():
    """Subframe with 2 wasted bits (samples all divisible by 4) and a
    4-partition Rice residual (partition order 2)."""
    bs = 64
    rng = np.random.RandomState(5)
    s = (rng.randint(-100, 100, bs) * 4).astype(np.int64)
    eff = s >> 2
    w = MsbWriter()
    _frame_header(w, bs, ch_code=0, bps_code=4)
    w.write(0, 1); w.write(8, 6, )  # FIXED order 0
    w.write(1, 1)                   # wasted-bits flag
    w.unary(1)                # unary(1) => wasted = 1 + 1 = 2
    _write_rice(w, eff, k=3, part_order=2, order=0, blocksize=bs)
    data = _streaminfo(16000, 1, 16, bs, bs) + _finish_frame(w)
    dec, _ = read_flac(data)
    assert np.array_equal(dec[:, 0], s)
