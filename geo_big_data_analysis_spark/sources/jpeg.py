"""Pure-Python baseline JPEG decode/encode — extending the un-stubbed
multimodal IMAGE path beyond PNG (`sources/png.py`) to the one other
format a 100 TB corpus actually carries at volume. Implements real
ITU-T T.81 (ISO/IEC 10918-1) baseline sequential DCT: canonical
Huffman entropy coding (Annex C code construction, Annex F decode
procedure), zig-zag coefficient ordering (Figure A.6), 8×8 type-II
DCT/IDCT via the orthonormal basis matrix (Annex A.3.3), byte
stuffing (B.1.1.5), and the JFIF YCbCr↔RGB color transform.

Scope (documented feature matrix):
- decode: baseline sequential (SOF0), 8-bit precision, 1-component
  (grayscale) and 3-component 4:4:4 or 4:2:0 (2×2-subsampled chroma
  upsampled by pixel replication) interleaved scans; restart intervals
  (DRI + RSTn markers, §B.2.1.2: byte-align, consume the cycling
  RST0-7 marker, reset DC predictors); APPn/COM segments skipped;
  multiple DQT/DHT segments. Progressive (SOF2) / extended (SOF1) /
  arithmetic coding / other sampling geometries raise
  NotImplementedError.
- encode: baseline SOF0, grayscale or RGB (4:4:4 default, 4:2:0 via
  2×2 box-mean chroma), Annex K default Huffman tables, uniform
  quantization tables (all-8), optional DRI/RSTn framing.
  Block-constant content round-trips EXACTLY (a constant 8×8 block has
  only a DC coefficient, 8·(v−128), which the all-8 table quantizes
  losslessly; under 4:2:0 the same holds for 16×16-block-constant
  gray-valued content) — the property `jpeg_roundtrip_stats`'s
  closed-form oracle pins.

Reference: ITU-T Recommendation T.81 (1992) — the reference repo's
media columns are handled by pillow/libav (实习四 notebooks load
images via PIL); this replaces that dependency for baseline JPEG.
"""

from __future__ import annotations

import re
import struct

import numpy as np

from .bitstream import MsbReader, MsbWriter, canonical_codes, decode_table, read_code

JPEG_MAGIC = b"\xff\xd8"


def is_jpeg(data: bytes) -> bool:
    return data[:2] == JPEG_MAGIC


# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

def _zigzag() -> list[tuple[int, int]]:
    """The 64 (row, col) pairs in T.81 Figure A.6 zig-zag order,
    generated by diagonal traversal (even diagonals run bottom-left →
    top-right) instead of a hand-typed table."""
    order: list[tuple[int, int]] = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i <= 7]
        if s % 2 == 0:
            diag = diag[::-1]
        order.extend(diag)
    return order


_ZZ = _zigzag()

# orthonormal 1-D DCT-II basis: A[u, x] = sqrt(2/8)·c(u)·cos((2x+1)uπ/16)
_x = np.arange(8)
_A = np.sqrt(2.0 / 8.0) * np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16.0)
_A[0] /= np.sqrt(2.0)

# Annex K default Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: uniform all-8 quantization table: DC = 8 divides the constant-block
#: DC coefficient 8·(v−128) exactly for every integer v — the lossless
#: content class the roundtrip oracle exercises
_QTABLE = np.full(64, 8, dtype=np.int32)


def _huffman_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """value → (code, length) of a BITS/HUFFVAL table (T.81 Annex C)."""
    lengths = [ln for ln in range(1, 17) for _ in range(bits[ln - 1])]
    if len(lengths) != len(vals):
        raise ValueError("invalid Huffman spec: BITS/HUFFVAL mismatch")
    return canonical_codes(zip(vals, lengths))


#: a marker (FF then a non-zero byte) inside or ending entropy-coded data
_MARKER = re.compile(rb"\xff[^\x00]")
_ENTROPY = "JPEG entropy-coded interval (data ends or a marker interrupts it)"


def _stuffed(bw: MsbWriter) -> bytes:
    """One restart interval's entropy-coded bytes: 1-fill the last byte
    (F.1.2.3), then stuff every FF data byte as FF 00 (B.1.1.5)."""
    bw.align(1)
    return bw.getvalue().replace(b"\xff", b"\xff\x00")


def _intervals(data: bytes, pos: int) -> list[tuple[int, bytes]]:
    """The entropy-coded data from ``pos`` split at its RSTn markers:
    (n, unstuffed bytes) per restart interval, n = −1 for the first.
    Ends at the first other marker (EOI) or at the end of ``data``."""
    out: list[tuple[int, bytes]] = []
    rst = -1
    for m in _MARKER.finditer(data, pos):
        out.append((rst, data[pos : m.start()].replace(b"\xff\x00", b"\xff")))
        rst = data[m.start() + 1] - 0xD0
        if not 0 <= rst <= 7:
            return out
        pos = m.end()
    out.append((rst, data[pos:].replace(b"\xff\x00", b"\xff")))
    return out


def _extend(v: int, t: int) -> int:
    """F.2.2.1 sign extension: t-bit magnitude code → signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """signed value → (category, t-bit magnitude code), F.1.2.1.2."""
    t = int(abs(v)).bit_length()
    return (t, v if v >= 0 else v + (1 << t) - 1)


# ---------------------------------------------------------------------------
# color transform (JFIF)
# ---------------------------------------------------------------------------

def _rgb_to_ycc(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, 255)


def _ycc_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i].astype(np.float64) for i in range(3))
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _encode_plane_block(
    block: np.ndarray,
    qt: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
    bw: MsbWriter,
) -> int:
    f = _A @ (block.astype(np.float64) - 128.0) @ _A.T
    zz = np.array(
        [int(round(f[r, c] / qt[k])) for k, (r, c) in enumerate(_ZZ)], dtype=np.int64
    )
    diff = int(zz[0]) - pred
    t, mag = _magnitude(diff)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(mag, t)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        t, mag = _magnitude(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(mag, t)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tid: int, qt: np.ndarray) -> bytes:
    body = bytes([tid]) + bytes(int(qt[k]) for k in range(64))
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def _box2(p: np.ndarray) -> np.ndarray:
    """2×2 box-mean downsample (the standard 4:2:0 chroma filter);
    input dims must be even. Rounded+clipped back to pixel range."""
    h, w = p.shape
    m = p.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    return np.clip(np.round(m), 0, 255)


def write_jpeg(
    img: np.ndarray, restart_interval: int = 0, subsampling: str = "444"
) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB uint8 as baseline
    sequential JPEG (SOF0, Annex K Huffman tables, all-8 quant).
    ``subsampling``: "444" (default) or "420" (2×2 box-mean chroma —
    what camera JPEGs carry; color only). Dimensions are padded to the
    MCU multiple by edge replication (decode crops back to H×W).
    ``restart_interval`` > 0 emits a DRI segment and cycling RST0-7
    markers every that many MCUs (predictors reset) — the
    error-resilience framing real encoders emit."""
    img = np.asarray(img, dtype=np.uint8)
    color = img.ndim == 3
    if color and img.shape[2] != 3:
        raise ValueError("color image must be (H, W, 3)")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    sub420 = color and subsampling == "420"
    h, w = img.shape[:2]
    align = 16 if sub420 else 8
    ph, pw = -(-h // align) * align, -(-w // align) * align
    pad = [(0, ph - h), (0, pw - w)] + ([(0, 0)] if color else [])
    img = np.pad(img, pad, mode="edge")

    if color:
        ycc = _rgb_to_ycc(img)
        if sub420:
            planes = [ycc[..., 0], _box2(ycc[..., 1]), _box2(ycc[..., 2])]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [ycc[..., i] for i in range(3)]
            samp = [(1, 1)] * 3
    else:
        planes = [img]
        samp = [(1, 1)]
    n_comp = len(planes)
    dc_lum, ac_lum = _huffman_codes(*_DC_LUM), _huffman_codes(*_AC_LUM)
    dc_chr, ac_chr = _huffman_codes(*_DC_CHR), _huffman_codes(*_AC_CHR)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(0, _QTABLE)
    if color:
        out += _dqt_segment(1, _QTABLE)
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for cid in range(1, n_comp + 1):
        hi, vi = samp[cid - 1]
        sof += bytes([cid, (hi << 4) | vi, 0 if cid == 1 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0x00, *_DC_LUM) + _dht_segment(0x10, *_AC_LUM)
    if color:
        out += _dht_segment(0x01, *_DC_CHR) + _dht_segment(0x11, *_AC_CHR)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([n_comp])
    for cid in range(1, n_comp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    bw = MsbWriter()
    preds = [0] * n_comp
    tables = [
        (dc_lum, ac_lum) if c == 0 else (dc_chr, ac_chr) for c in range(n_comp)
    ]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_done = 0
    for my in range(ph // (8 * vmax)):
        for mx in range(pw // (8 * hmax)):
            if (
                restart_interval
                and mcu_done
                and mcu_done % restart_interval == 0
            ):
                out += _stuffed(bw)
                out += bytes(
                    [0xFF, 0xD0 + ((mcu_done // restart_interval - 1) % 8)]
                )
                bw = MsbWriter()
                preds = [0] * n_comp
            mcu_done += 1
            for c in range(n_comp):
                hi, vi = samp[c]
                for byy in range(vi):
                    for bxx in range(hi):
                        y0 = (my * vi + byy) * 8
                        x0 = (mx * hi + bxx) * 8
                        block = planes[c][y0 : y0 + 8, x0 : x0 + 8]
                        preds[c] = _encode_plane_block(
                            block, _QTABLE, preds[c],
                            tables[c][0], tables[c][1], bw,
                        )
    out += _stuffed(bw)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def read_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline JPEG to (H, W) uint8 (grayscale) or (H, W, 3)
    uint8 RGB. See the module feature matrix for supported subsets."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG stream")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[int, dict[int, int]] = {}
    restart_interval = 0
    h = w = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, h_i, v_i, qtable id)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc table, ac table)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seg_len]
        body_end = pos + seg_len
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qtables[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int32)
                p += 65
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            p = 6
            for _ in range(nc):
                cid, samp, tq = seg[p], seg[p + 1], seg[p + 2]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
                p += 3
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component scan")
            samps = [(ci[1], ci[2]) for ci in comps]
            # supported geometries: 4:4:4 (all 1x1) and 4:2:0
            # (luma 2x2, chroma 1x1 — what camera JPEGs emit)
            if not (
                all(s == (1, 1) for s in samps)
                or (len(samps) == 3 and samps == [(2, 2), (1, 1), (1, 1)])
            ):
                raise NotImplementedError(
                    f"unsupported sampling {samps} (4:4:4 and 4:2:0 only)"
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError("non-baseline JPEG (progressive/extended)")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                htables[tc_th] = decode_table(_huffman_codes(bits, vals))
                p += 17 + n
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            p = 1
            for _ in range(ns):
                cs, tt = seg[p], seg[p + 1]
                ci = next(i for i, c in enumerate(comps) if c[0] == cs)
                scan.append((ci, tt >> 4, tt & 0xF))
                p += 2
            pos = body_end
            break
        # APPn / COM / others: skip
        pos = body_end
    if not comps or not scan:
        raise ValueError("missing SOF/SOS")

    intervals = _intervals(data, pos)
    br = MsbReader(intervals[0][1], _ENTROPY)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    n_mcux, n_mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    planes = [
        np.zeros((n_mcuy * c[2] * 8, n_mcux * c[1] * 8), dtype=np.float64)
        for c in comps
    ]
    preds = [0] * len(comps)
    mcu_done = 0
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if restart_interval and mcu_done and mcu_done % restart_interval == 0:
                # T.81 B.2.1.2: each interval opens at its cycling RST0-7
                i = mcu_done // restart_interval
                if i >= len(intervals) or intervals[i][0] != (i - 1) % 8:
                    raise ValueError(f"expected RST{(i - 1) % 8} before MCU {mcu_done}")
                br = MsbReader(intervals[i][1], _ENTROPY)
                preds = [0] * len(comps)
            mcu_done += 1
            for ci, tdc, tac in scan:
                _cid, hi, vi, tqi = comps[ci]
                dc_tbl, ac_tbl = htables[tdc], htables[0x10 | tac]
                qt = qtables[tqi]
                for byy in range(vi):
                    for bxx in range(hi):
                        zz = np.zeros(64, dtype=np.int64)
                        t = read_code(br, dc_tbl, 16)
                        preds[ci] += _extend(br.read(t), t)
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = read_code(br, ac_tbl, 16)
                            r, t = rs >> 4, rs & 0xF
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "coefficient index out of range"
                                )
                            zz[k] = _extend(br.read(t), t)
                            k += 1
                        coef = np.zeros((8, 8), dtype=np.float64)
                        for k, (r, c) in enumerate(_ZZ):
                            coef[r, c] = zz[k] * qt[k]
                        block = _A.T @ coef @ _A + 128.0
                        y0 = (my * vi + byy) * 8
                        x0 = (mx * hi + bxx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    out_planes = []
    for p, c in zip(planes, comps):
        # subsampled chroma upsamples by pixel replication (box/NN —
        # deterministic, the JFIF-sanctioned simple filter)
        ry, rx = vmax // c[2], hmax // c[1]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(np.clip(np.round(p), 0, 255)[:h, :w])
    if len(out_planes) == 1:
        return out_planes[0].astype(np.uint8)
    return _ycc_to_rgb(np.stack(out_planes, axis=-1))
