"""Pure-stdlib WAV (RIFF/PCM) decode/encode — un-stubbing the
multimodal AUDIO path the way `sources/png.py` un-stubbed images.

Scope: canonical RIFF WAVE with a PCM (format 1) ``fmt `` chunk —
8-bit unsigned, 16-bit and 32-bit signed little-endian samples, any
channel count (decoded to (n_frames, n_channels) int32) — plus
IEEE-float (format 3) 32/64-bit, decoded to (n_frames, n_channels)
float64; G.711 µ-law/A-law (formats 7/6); IMA/DVI ADPCM (format 0x11,
4-bit adaptive-step nibbles with per-block headers and fact-chunk
frame counts); unknown chunks (LIST/cue) are skipped by the chunk
walk. Remaining compressed formats (MS-ADPCM, extensible) raise
NotImplementedError with the format code named.

Reference: Microsoft/IBM "Multimedia Programming Interface and Data
Specifications 1.0" (the RIFF WAVE chunk layout).
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import riff, riff_chunks

_PCM_DTYPES = {8: np.uint8, 16: np.dtype("<i2"), 32: np.dtype("<i4")}


def is_wav(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def read_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV into ((n_frames, n_channels) int32 samples,
    sample_rate). 8-bit unsigned is re-centered to signed (−128 offset,
    the PCM convention)."""
    if not is_wav(data):
        raise ValueError("not a RIFF/WAVE stream")
    fmt = None
    raw = None
    fact_frames = None
    for cid, body in riff_chunks(data):
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            raw = body
        elif cid == b"fact" and len(body) >= 4:
            (fact_frames,) = struct.unpack("<I", body[:4])
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, rate, _byte_rate, _align, bits = fmt
    if audio_fmt == 3:  # WAVE_FORMAT_IEEE_FLOAT
        fdt = {32: np.dtype("<f4"), 64: np.dtype("<f8")}.get(bits)
        if fdt is None:
            raise NotImplementedError(f"{bits}-bit float WAV not supported")
        samples = np.frombuffer(raw, dtype=fdt)
        n_frames = len(samples) // n_ch
        return (
            samples[: n_frames * n_ch].reshape(n_frames, n_ch).astype(np.float64),
            rate,
        )
    if audio_fmt in (6, 7):  # G.711 A-law / µ-law (ITU-T G.711)
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        codes = np.frombuffer(raw, dtype=np.uint8)
        lin = alaw_decode(codes) if audio_fmt == 6 else ulaw_decode(codes)
        n_frames = len(lin) // n_ch
        return lin[: n_frames * n_ch].reshape(n_frames, n_ch).astype(np.int32), rate
    if audio_fmt == 0x11:  # IMA/DVI ADPCM
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV must be 4-bit, got {bits}")
        frames = _adpcm_decode(raw, n_ch, _align)
        # fact chunk (required for compressed WAVE) carries the true
        # frame count — trims the final block's pad samples
        if fact_frames is not None:
            frames = frames[:fact_frames]
        return frames, rate
    if audio_fmt != 1:
        raise NotImplementedError(f"WAV format code {audio_fmt} (non-PCM) not supported")
    dt = _PCM_DTYPES.get(bits)
    if dt is None:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    samples = np.frombuffer(raw, dtype=dt)
    n_frames = len(samples) // n_ch
    samples = samples[: n_frames * n_ch].reshape(n_frames, n_ch).astype(np.int32)
    if bits == 8:
        samples -= 128
    return samples, rate


# --- ITU-T G.711 companding (Tables 1a/2a of the Recommendation) ----------
# µ-law: 8 exponent segments over a biased 14-bit magnitude; code byte is
# complemented on the wire. A-law: segment 0/1 linear then doubling
# segments; code byte is XOR 0x55 on the wire. Both decode into the
# canonical ±32124 / ±32256 16-bit ranges.

def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    u = ~np.asarray(codes, dtype=np.uint8)
    seg = (u >> 4) & 0x7
    t = (((u & 0xF).astype(np.int32) << 3) + 0x84) << seg
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    p = np.asarray(pcm, dtype=np.int32)
    mask = np.where(p < 0, 0x7F, 0xFF)
    mag = np.where(p < 0, 0x84 - p, p + 0x84)
    mag = np.minimum(mag, 0x7FFF)
    # segment = how far the magnitude's MSB sits above bit 7
    seg = np.clip(np.floor(np.log2(mag)).astype(np.int32) - 7, 0, 7)
    code = (seg << 4) | ((mag >> (seg + 3)) & 0xF)
    return (code ^ mask).astype(np.uint8)


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    a = np.asarray(codes, dtype=np.uint8) ^ 0x55
    seg = (a >> 4) & 0x7
    t = ((a & 0xF).astype(np.int32) << 4)
    t = np.where(seg == 0, t + 8, ((t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    p = np.asarray(pcm, dtype=np.int32)
    mask = np.where(p >= 0, 0xD5, 0x55)
    mag = np.where(p >= 0, p, -p - 8)
    mag = np.clip(mag, 0, 0x7FFF)
    seg = np.clip(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32) - 7, 0, 7)
    low = np.where(seg < 2, (mag >> 4) & 0xF, (mag >> (seg + 3)) & 0xF)
    code = (seg << 4) | low
    return (code ^ mask).astype(np.uint8)


# --- IMA/DVI ADPCM (WAVE format 0x11; IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility" rev 3.00 §4) -----------------------
# 4-bit sign-magnitude nibbles against an 89-entry adaptive step table;
# each block opens with a per-channel 4-byte header (int16 predictor =
# first sample, uint8 step index), then 4-byte-per-channel interleaved
# nibble words (low nibble first).

_IMA_STEPS = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
     45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
     209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724,
     796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272,
     2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132,
     7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500,
     20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int32,
)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step_sample(nibble: int, pred: int, idx: int) -> tuple[int, int]:
    """One decoder step: (new predictor, new step index)."""
    step = int(_IMA_STEPS[idx])
    delta = step >> 3
    if nibble & 1:
        delta += step >> 2
    if nibble & 2:
        delta += step >> 1
    if nibble & 4:
        delta += step
    pred = pred - delta if nibble & 8 else pred + delta
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + int(_IMA_INDEX_ADJ[nibble & 7])))
    return pred, idx


def _adpcm_decode(raw: bytes, n_ch: int, block_align: int) -> np.ndarray:
    if len(raw) % block_align != 0:
        raise ValueError(
            f"IMA ADPCM data length {len(raw)} is not a multiple of "
            f"block_align {block_align} (truncated final block)"
        )
    spb = (block_align - 4 * n_ch) * 2 // n_ch + 1  # samples per block
    out_blocks = []
    for bstart in range(0, len(raw) - (block_align - 1), block_align):
        block = raw[bstart : bstart + block_align]
        out = np.zeros((spb, n_ch), dtype=np.int32)
        pred = [0] * n_ch
        idx = [0] * n_ch
        off = 0
        for c in range(n_ch):
            pred[c], idx[c] = struct.unpack_from("<hB", block, off)
            idx[c] = max(0, min(88, idx[c]))
            out[0, c] = pred[c]
            off += 4
        s = [1] * n_ch
        while off + 4 * n_ch <= len(block):
            for c in range(n_ch):
                for byte in block[off : off + 4]:
                    for nib in (byte & 0xF, byte >> 4):
                        if s[c] < spb:
                            pred[c], idx[c] = _ima_step_sample(nib, pred[c], idx[c])
                            out[s[c], c] = pred[c]
                            s[c] += 1
                off += 4
        out_blocks.append(out)
    if not out_blocks:
        return np.zeros((0, n_ch), dtype=np.int32)
    return np.concatenate(out_blocks, axis=0)


def _ima_quantize(diff: int, step: int) -> int:
    """Encoder nibble for a (signed) difference at the current step —
    the canonical magnitude ladder (step, step/2, step/4)."""
    nib = 0
    if diff < 0:
        nib = 8
        diff = -diff
    if diff >= step:
        nib |= 4
        diff -= step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nib |= 1
    return nib


def _adpcm_encode(a: np.ndarray) -> tuple[bytes, int]:
    """Encode (n_frames, n_ch) int16-range samples; returns (payload,
    block_align). The final block is padded by repeating the last
    sample (the fact chunk trims on decode). Each block carries 128
    data bytes per channel."""
    n_frames, n_ch = a.shape
    spb = 128 * 2 + 1
    block_align = n_ch * (4 + 128)
    idx = [0] * n_ch
    blocks = []
    for bstart in range(0, n_frames, spb):
        seg = a[bstart : bstart + spb]
        if len(seg) < spb:  # pad with the last sample
            seg = np.concatenate([seg, np.repeat(seg[-1:], spb - len(seg), axis=0)])
        hdr = bytearray()
        pred = [0] * n_ch
        for c in range(n_ch):
            pred[c] = int(seg[0, c])
            hdr += struct.pack("<hBB", pred[c], idx[c], 0)
        nibs: list[list[int]] = [[] for _ in range(n_ch)]
        for c in range(n_ch):
            for s in range(1, spb):
                step = int(_IMA_STEPS[idx[c]])
                nib = _ima_quantize(int(seg[s, c]) - pred[c], step)
                pred[c], idx[c] = _ima_step_sample(nib, pred[c], idx[c])
                nibs[c].append(nib)
        body = bytearray()
        word_words = (spb - 1) // 8  # 4-byte words per channel
        for w in range(word_words):
            for c in range(n_ch):
                for b in range(4):
                    lo = nibs[c][w * 8 + b * 2]
                    hi = nibs[c][w * 8 + b * 2 + 1]
                    body.append(lo | (hi << 4))
        blocks.append(bytes(hdr) + bytes(body))
    return b"".join(blocks), block_align


def write_wav(
    samples: np.ndarray, rate: int, bits: int = 16, float_fmt: bool = False,
    g711: str | None = None, ima_adpcm: bool = False,
) -> bytes:
    """Encode (n_frames,) or (n_frames, n_channels) samples as
    canonical WAV — PCM (format 1, integer samples) by default,
    IEEE-float (format 3, ``float_fmt=True`` with bits 32/64),
    G.711 companded (``g711='ulaw'`` → format 7, ``'alaw'`` →
    format 6; input is 16-bit linear PCM, lossily companded to 8-bit
    code bytes per the Recommendation), or IMA/DVI ADPCM
    (``ima_adpcm=True`` → format 0x11: 4-bit adaptive-step nibbles,
    ~4:1 compression, fact chunk carries the true frame count)."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    n_frames, n_ch = a.shape
    if ima_adpcm:
        raw, block_align = _adpcm_encode(a.astype(np.int32))
        spb = (block_align - 4 * n_ch) * 2 // n_ch + 1
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, n_ch, rate,
            rate * block_align // spb, block_align, 4, 2, spb,
        )
        return riff(
            b"WAVE",
            [(b"fmt ", fmt), (b"fact", struct.pack("<I", n_frames)), (b"data", raw)],
        )
    if g711 is not None:
        if g711 == "ulaw":
            raw, audio_fmt = ulaw_encode(a.ravel()).tobytes(), 7
        elif g711 == "alaw":
            raw, audio_fmt = alaw_encode(a.ravel()).tobytes(), 6
        else:
            raise ValueError(f"g711 must be 'ulaw' or 'alaw', got {g711!r}")
        bits = 8
    elif float_fmt:
        fdt = {32: np.dtype("<f4"), 64: np.dtype("<f8")}.get(bits)
        if fdt is None:
            raise ValueError(f"{bits}-bit float WAV not supported")
        raw = a.astype(fdt).tobytes()
        audio_fmt = 3
    else:
        dt = _PCM_DTYPES.get(bits)
        if dt is None:
            raise ValueError(f"{bits}-bit PCM not supported")
        if bits == 8:
            raw = (a + 128).astype(np.uint8).tobytes()
        else:
            raw = a.astype(dt).tobytes()
        audio_fmt = 1
    block_align = n_ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", audio_fmt, n_ch, rate, rate * block_align, block_align, bits
    )
    return riff(b"WAVE", [(b"fmt ", fmt), (b"data", raw)])
