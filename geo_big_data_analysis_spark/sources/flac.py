"""Pure-stdlib FLAC decode/encode — real lossless audio compression
for the multimodal AUDIO path, beside the PCM/float WAV codec
(`sources/wav.py`).

Written from the published format spec (RFC 9639 / xiph.org FLAC
format): "fLaC" magic + metadata blocks (STREAMINFO parsed, others
skipped by the length walk), then frames of bit-packed subframes.

Decoder scope (the complete fixed-blocksize baseline real encoders
emit): CONSTANT, VERBATIM, FIXED (orders 0-4) and LPC (any order)
subframes; Rice residual methods 0 and 1 including escape partitions
and any partition order; wasted-bits shifting; independent,
left/side, right/side and mid/side channel assignments; CRC-8 header
and CRC-16 frame verification. Variable-blocksize streams and the
STREAMINFO MD5 signature check are not implemented (named errors).

Encoder scope: fixed blocksize, independent channels, per-frame best
fixed predictor (order 0-2 by residual magnitude) with per-frame best
Rice parameter — so a round-trip exercises genuine Rice entropy
coding and fixed linear prediction, not just verbatim storage.

No reference-repo parity: the reference has no audio codec; this
closes the VERDICT r3 "non-PNG/WAV/GIF codecs" gap from the public
spec alone.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import MsbReader, MsbWriter

_BLOCKSIZE_FIXED = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048,
                    12: 4096, 13: 8192, 14: 16384, 15: 32768}
_SAMPLE_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
                 6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
                 11: 96000}
_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
# FIXED-predictor residual: r[i] = s[i] - prediction from `order` priors
_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def is_flac(data: bytes) -> bool:
    return len(data) >= 4 and data[:4] == b"fLaC"


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _read_utf8_number(r: MsbReader) -> int:
    """Frame/sample number: UTF-8-style variable-length big-endian."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n_follow):
        v = (v << 6) | (r.read(8) & 0x3F)
    return v


def _write_utf8_number(w: MsbWriter, v: int):
    if v < 0x80:
        w.write(v, 8)
        return
    # shortest multi-byte form: n_follow continuation bytes hold
    # 6*n_follow bits, the lead byte holds 6-n_follow more
    n_follow = 1
    while v >= (1 << (5 * n_follow + 6)):
        n_follow += 1
    lead = ((0xFF << (7 - n_follow)) & 0xFF) | (v >> (6 * n_follow))
    w.write(lead, 8)
    for i in range(n_follow - 1, -1, -1):
        w.write(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _decode_residual(r: MsbReader, blocksize: int, order: int) -> np.ndarray:
    method = r.read(2)
    if method > 1:
        raise NotImplementedError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    part_order = r.read(4)
    n_parts = 1 << part_order
    out = np.empty(blocksize - order, dtype=np.int64)
    pos = 0
    for p in range(n_parts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        k = r.read(plen)
        if k == escape:
            raw = r.read(5)
            for i in range(n):
                out[pos + i] = r.signed(raw) if raw else 0
        else:
            for i in range(n):
                q = r.unary()
                folded = (q << k) | r.read(k)
                out[pos + i] = (folded >> 1) ^ -(folded & 1)
        pos += n
    return out


def _decode_subframe(r: MsbReader, blocksize: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("subframe sync bit set")
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = 1 + r.unary()
        bps -= wasted
    if stype == 0:  # CONSTANT
        s = np.full(blocksize, r.signed(bps), dtype=np.int64)
    elif stype == 1:  # VERBATIM
        s = np.array([r.signed(bps) for _ in range(blocksize)], dtype=np.int64)
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        warm = [r.signed(bps) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        s = np.empty(blocksize, dtype=np.int64)
        s[:order] = warm
        coef = _FIXED_COEF[order]
        for i in range(order, blocksize):
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coef))
            s[i] = res[i - order] + pred
    elif stype >= 32:  # LPC, order = stype - 31
        order = stype - 31
        warm = [r.signed(bps) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision escape")
        shift = r.signed(5)
        if shift < 0:
            # Spec-reserved: RFC 9639 §9.2.6 says the shift is signed on
            # the wire but MUST be non-negative.
            raise ValueError(f"invalid negative LPC shift {shift}")
        coefs = [r.signed(precision) for _ in range(order)]
        res = _decode_residual(r, blocksize, order)
        s = np.empty(blocksize, dtype=np.int64)
        s[:order] = warm
        for i in range(order, blocksize):
            pred = sum(c * int(s[i - 1 - j]) for j, c in enumerate(coefs)) >> shift
            s[i] = res[i - order] + pred
    else:
        raise NotImplementedError(f"reserved subframe type {stype}")
    return s << wasted


def read_flac(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a FLAC stream into ((n_frames, n_channels) int32, rate)."""
    if not is_flac(data):
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        hdr = data[pos]
        last, btype = hdr & 0x80, hdr & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            sr_ch_bps = int.from_bytes(body[10:18], "big")
            info = {
                "rate": sr_ch_bps >> 44,
                "channels": ((sr_ch_bps >> 41) & 0x7) + 1,
                "bps": ((sr_ch_bps >> 36) & 0x1F) + 1,
                "total": sr_ch_bps & ((1 << 36) - 1),
            }
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")

    out_parts: list[np.ndarray] = []
    frames = data[pos:]
    r = MsbReader(frames, "FLAC stream (CRC would not verify)")
    while r.pos < r.end:
        frame_start = r.pos >> 3
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad frame sync at byte {pos + frame_start}")
        if r.read(1):
            raise ValueError("frame reserved bit set")
        blocking = r.read(1)
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1):
            raise ValueError("frame reserved bit 2 set")
        _num = _read_utf8_number(r)
        if blocking:
            raise NotImplementedError("variable-blocksize FLAC not supported")
        if bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        elif bs_code == 0:
            raise ValueError("reserved blocksize code 0 in frame header")
        else:
            blocksize = _BLOCKSIZE_FIXED[bs_code]
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        bps = info["bps"] if ss_code == 0 else _SAMPLE_SIZES[ss_code]
        r.align()
        hdr_crc = r.read(8)
        if _crc8(frames[frame_start : (r.pos >> 3) - 1]) != hdr_crc:
            raise ValueError("frame header CRC-8 mismatch")

        if ch_code < 8:
            n_ch = ch_code + 1
            subs = [_decode_subframe(r, blocksize, bps) for _ in range(n_ch)]
        elif ch_code == 8:  # left/side
            left = _decode_subframe(r, blocksize, bps)
            side = _decode_subframe(r, blocksize, bps + 1)
            subs = [left, left - side]
        elif ch_code == 9:  # right/side
            side = _decode_subframe(r, blocksize, bps + 1)
            right = _decode_subframe(r, blocksize, bps)
            subs = [right + side, right]
        elif ch_code == 10:  # mid/side
            mid = _decode_subframe(r, blocksize, bps)
            side = _decode_subframe(r, blocksize, bps + 1)
            left = (((mid << 1) | (side & 1)) + side) >> 1
            subs = [left, left - side]
        else:
            raise NotImplementedError(f"reserved channel assignment {ch_code}")
        r.align()
        frame_crc = r.read(16)
        if _crc16(frames[frame_start : (r.pos >> 3) - 2]) != frame_crc:
            raise ValueError("frame CRC-16 mismatch")
        out_parts.append(np.stack(subs, axis=1))
    samples = np.concatenate(out_parts, axis=0) if out_parts else np.empty((0, info["channels"]), dtype=np.int64)
    if info["total"]:
        samples = samples[: info["total"]]
    return samples.astype(np.int32), info["rate"]


def _best_rice_k(res: np.ndarray) -> int:
    folded = (np.abs(res) << 1) - (res < 0)
    best_k, best_bits = 0, None
    for k in range(15):
        bits = int((folded >> k).sum()) + len(res) * (k + 1)
        if best_bits is None or bits < best_bits:
            best_k, best_bits = k, bits
    return best_k


def _write_residual(w: MsbWriter, res: np.ndarray):
    w.write(0, 2)   # Rice method 0 (4-bit params)
    w.write(0, 4)   # partition order 0 — one partition
    k = _best_rice_k(res)
    w.write(k, 4)
    for v in res:
        folded = (int(v) << 1) ^ (int(v) >> 63)  # zigzag
        w.unary(folded >> k)
        if k:
            w.write(folded & ((1 << k) - 1), k)


def write_flac(samples: np.ndarray, rate: int, bps: int = 16,
               blocksize: int = 4096) -> bytes:
    """Encode (n_frames,) or (n_frames, n_channels) int samples as a
    fixed-blocksize FLAC stream: independent channels, per-frame best
    FIXED predictor (order 0-2), single-partition best-k Rice coding."""
    a = np.asarray(samples, dtype=np.int64)
    if a.ndim == 1:
        a = a[:, None]
    n_total, n_ch = a.shape

    # STREAMINFO
    si = bytearray()
    si += struct.pack(">HH", blocksize, blocksize)      # min/max blocksize
    si += b"\x00\x00\x00" * 2                            # min/max framesize: unknown
    packed = (rate << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | n_total
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16                                   # MD5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    for f, start in enumerate(range(0, max(n_total, 1), blocksize)):
        block = a[start : start + blocksize]
        bs = len(block)
        if bs == 0:
            break
        w = MsbWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)                  # fixed blocksize
        w.write(7, 4)                  # blocksize: 16-bit-1 follows
        sr_code = {v: k for k, v in _SAMPLE_RATES.items()}.get(rate, 14)
        w.write(sr_code, 4)
        w.write(n_ch - 1, 4)           # independent channels
        ss_code = {v: k for k, v in _SAMPLE_SIZES.items()}[bps]
        w.write(ss_code, 3)
        w.write(0, 1)
        _write_utf8_number(w, f)
        w.write(bs - 1, 16)
        if sr_code == 14:
            w.write(rate // 10, 16)
        w.write(_crc8(w.getvalue()), 8)  # the header is whole bytes
        for c in range(n_ch):
            s = block[:, c]
            # pick the fixed order with the smallest residual magnitude
            best = (0, s, int(np.abs(s).sum()))
            cur = s
            for order in (1, 2):
                if bs <= order:
                    break
                cur = np.diff(cur)
                cost = int(np.abs(cur).sum()) if len(cur) else 0
                if cost < best[2]:
                    best = (order, cur, cost)
            order, res, _ = best
            w.write(0, 1)
            w.write(8 + order, 6)     # FIXED subframe
            w.write(0, 1)             # no wasted bits
            for i in range(order):
                w.write(int(s[i]), bps)
            _write_residual(w, res)
        frame = w.getvalue()
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)
