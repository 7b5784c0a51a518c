"""Pure-Python WebP **lossless** (VP8L) decode/encode (continuing the
codec track that un-stubbed the multimodal image path: `sources/png.py`,
`jpeg.py`, `bmp.py` — no pillow, stdlib ``struct`` + numpy only).

Scope (documented feature matrix, same convention as the other codecs):
- decode: the full VP8L still-image bitstream per the WebP Lossless
  Bitstream Specification (RFC 9649 §4; LSB-first bit packing):
  14-bit dimensions; ALL FOUR transforms inverted in reverse encode
  order — predictor (14 modes, contiguous-memory top-right rule),
  color (signed 3.5 fixed-point cross-channel deltas), subtract-green,
  color-indexing with sub-byte pixel bundling (1/2/4-bit packed
  indices); color cache (hash 0x1e35a7bd, 1-11 bits); LZ77 backward
  references with both direct distances and the 120-entry 2D
  distance-neighborhood map; meta prefix codes (entropy image) for the
  spatially-coded main image; "simple" (1-2 symbol) and
  code-length-coded prefix codes including repeat codes 16/17/18 and
  the max_symbol short-circuit.
- encode: a spec-valid minimal writer — no transforms, no color cache,
  no LZ77, single prefix-code group; per-channel canonical prefix codes
  (length-limited package-merge, ≤15 bits) emitted as simple codes when
  a channel has ≤2 distinct values and code-length-coded otherwise
  (zero runs via repeat codes 17/18). Lossless by construction, so
  round-trip oracles (`webp_roundtrip_stats`) can grade it with
  closed-form pixel arithmetic that never sees the bytes.
- container: RIFF/WEBP with a single VP8L chunk (even-size padding).
  VP8 (lossy) and VP8X (extended) payloads raise NotImplementedError
  naming the swap-in point — lossy decode has no round-trip oracle
  (same reasoning as MP3 audio decode, `sources/mp3.py`).

The distance-neighborhood map is generated from its closure rule — the
120 offsets (dx, dy) with dy ∈ 0..8, |dx| ≤ 8, (dy > 0 or dx > 0) and
dx² + dy² ≤ 74, ordered by (distance², larger dy first, positive dx
first) — which reproduces the spec's explicit 120-entry table
(`tests/test_webp.py` pins the documented head of the list).

Reference: WebP image format, RFC 9649 (2024), §4 "Specification for
WebP Lossless Bitstream"; reference (eager, pandas-era) repo has no
codec layer at all — this continues SURVEY §2.10's multimodal plumbing.
"""

from __future__ import annotations

import numpy as np

from .bitstream import (
    LsbReader,
    LsbWriter,
    canonical_codes,
    decode_table,
    read_code,
    riff,
    riff_chunks,
)

#: code-length-code symbol order (RFC 9649 §4.6.2.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

#: green/length/cache alphabet before the cache extension
_GREEN_BASE = 256 + 24

_MAX_CODE_LEN = 15


def _distance_map() -> list[tuple[int, int]]:
    """The 120-entry 2D distance-neighborhood table (see module
    docstring for the closure rule that generates the spec list)."""
    cands = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            if dx * dx + dy * dy <= 74:
                cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] > 0 else 1))
    if len(cands) != 120:  # closure rule invariant
        raise AssertionError(f"distance map has {len(cands)} entries")
    return cands


_DIST_MAP = _distance_map()


# ------------------------------------------------------ prefix codes

def _code_table(lengths: list[int]) -> tuple[dict[int, int], int]:
    """(`decode_table`, max length) of a multi-symbol VP8L prefix code.
    The (length, symbol) canonical rule alone would misdecode an over-
    or under-subscribed length set silently, so VP8L requires Kraft
    completeness, sum(2^-len) == 1 (ADVICE r5); JPEG allows incomplete
    codes, so the check lives here. A 1-symbol code decodes with zero
    bits and is handled by the caller."""
    max_len = max(lengths)
    kraft = sum(1 << (max_len - ln) for ln in lengths if ln)
    if kraft != (1 << max_len):
        raise ValueError(f"invalid prefix code: Kraft sum {kraft}/{1 << max_len}")
    return decode_table(canonical_codes(enumerate(lengths))), max_len


def _limited_lengths(freqs: dict[int, int], max_len: int = _MAX_CODE_LEN) -> list[int]:
    """Length-limited prefix-code lengths via package-merge (exact
    optimum under the limit; alphabet = 1 + max symbol index)."""
    n = max(freqs) + 1
    active = sorted(freqs.items())
    if len(active) == 1:
        out = [0] * n
        out[active[0][0]] = 1
        return out
    if len(active) > (1 << max_len):
        raise ValueError("alphabet too large for length limit")
    # package-merge: the selection pool is list L_max_len = original ∪
    # package(L_{max_len-1}), so the loop builds max_len − 1 package
    # levels (one more would admit codes of max_len + 1 bits)
    original = [(f, (s,)) for s, f in active]
    packages: list[tuple[int, tuple[int, ...]]] = []
    for _ in range(max_len - 1):
        merged = sorted(original + packages)
        packages = [
            (
                merged[i][0] + merged[i + 1][0],
                merged[i][1] + merged[i + 1][1],
            )
            for i in range(0, len(merged) - 1, 2)
        ]
    lengths = [0] * n
    take = 2 * len(active) - 2
    merged = sorted(original + packages)[:take]
    for _, syms in merged:
        for s in syms:
            lengths[s] += 1
    return lengths


# ------------------------------------------------------------ container

def is_webp(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"WEBP"


def _vp8l_payload(data: bytes) -> bytes:
    if not is_webp(data):
        raise ValueError("not a RIFF/WEBP container")
    for fourcc, payload in riff_chunks(data):
        if fourcc == b"VP8L":
            return payload
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 payload: install pillow/libwebp for lossy decode "
                "(lossless VP8L decodes natively; lossy has no round-trip "
                "oracle — same policy as MP3 audio, sources/mp3.py)"
            )
        if fourcc == b"VP8X":
            raise NotImplementedError(
                "extended (VP8X) container: animation/EXIF framing not "
                "implemented — still-image VP8L decodes natively"
            )
    raise ValueError("no VP8L chunk in WEBP container")


# --------------------------------------------------------------- decode

def _read_prefix_code(br: LsbReader, alphabet_size: int) -> list[int]:
    """One prefix code: 'simple' (1-2 symbols) or code-length-coded
    (RFC 9649 §4.6.2)."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bits = br.read(1)
        sym0 = br.read(8 if first_8bits else 1)
        lengths = [0] * alphabet_size
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym0 >= alphabet_size or sym1 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            if sym1 == sym0:
                raise ValueError("simple code repeats a symbol")
            lengths[sym0] = 1
            lengths[sym1] = 1
        else:
            if sym0 >= alphabet_size:
                raise ValueError("simple-code symbol out of range")
            lengths[sym0] = 1  # degenerate: reads zero bits at use sites
        return lengths
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    if not any(cl_lengths):
        raise ValueError("empty code-length code")
    cl_degenerate = sum(1 for x in cl_lengths if x) == 1
    if cl_degenerate:
        # The single used symbol may have any declared length (not
        # necessarily 1); it decodes with zero bits (ADVICE r5).
        cl_only = next(i for i, x in enumerate(cl_lengths) if x)
        cl_table: dict[int, int] = {}
        cl_max = 0
    else:
        cl_only = -1
        cl_table, cl_max = _code_table(cl_lengths)

    if br.read(1):  # use max_symbol short-circuit
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_only if cl_degenerate else read_code(br, cl_table, cl_max)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if sym >= alphabet_size:
                    raise ValueError("code-length repeat overruns alphabet")
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    if sym > alphabet_size:
        raise ValueError("code-length repeat overruns alphabet")
    if not any(lengths):
        raise ValueError("prefix code assigns no symbols")
    return lengths


class _Code:
    """One decodable prefix code (handles the degenerate 1-symbol case
    that consumes zero bits)."""

    __slots__ = ("table", "max_len", "only")

    def __init__(self, lengths: list[int]):
        nz = [s for s, ln in enumerate(lengths) if ln]
        if len(nz) == 1:
            self.only: int | None = nz[0]
            self.table: dict[int, int] = {}
            self.max_len = 0
        else:
            self.only = None
            self.table, self.max_len = _code_table(lengths)

    def read(self, br: LsbReader) -> int:
        if self.only is not None:
            return self.only
        return read_code(br, self.table, self.max_len)


def _copy_length(br: LsbReader, sym: int) -> int:
    """LZ77 length/distance prefix decoding (RFC 9649 §4.6.2.3)."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_image_stream(
    br: LsbReader, width: int, height: int, is_root: bool
) -> np.ndarray:
    """Decode one ARGB image (shape (h, w, 4) uint8, channels A,R,G,B).
    Transforms are only present (and applied) at the root level."""
    transforms: list[tuple[int, object]] = []
    w = width
    if is_root:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError(f"duplicate VP8L transform {ttype}")
            seen.add(ttype)
            if ttype in (0, 1):  # predictor / color: block-coded sub-image
                size_bits = br.read(3) + 2
                bw = (w + (1 << size_bits) - 1) >> size_bits
                bh = (height + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image_stream(br, bw, bh, False)
                transforms.append((ttype, (size_bits, sub)))
            elif ttype == 2:  # subtract green
                transforms.append((2, None))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal = _decode_image_stream(br, n_colors, 1, False)[0]  # (n,4)
                # palette entries are component-wise delta-coded
                pal = np.cumsum(pal.astype(np.int64), axis=0).astype(np.uint8)
                if n_colors <= 2:
                    wbits = 3
                elif n_colors <= 4:
                    wbits = 2
                elif n_colors <= 16:
                    wbits = 1
                else:
                    wbits = 0
                transforms.append((3, (wbits, pal, w)))
                w = (w + (1 << wbits) - 1) >> wbits

    cache_bits = 0
    cache = None
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid color-cache bits {cache_bits}")
        cache = np.zeros(1 << cache_bits, dtype=np.uint32)

    entropy = None
    meta_bits = 0
    n_groups = 1
    if is_root and br.read(1):  # meta prefix codes (spatially-coded image)
        meta_bits = br.read(3) + 2
        ew = (w + (1 << meta_bits) - 1) >> meta_bits
        eh = (height + (1 << meta_bits) - 1) >> meta_bits
        epx = _decode_image_stream(br, ew, eh, False)
        entropy = (
            epx[:, :, 1].astype(np.int32) << 8
        ) | epx[:, :, 2].astype(np.int32)  # (red << 8) | green
        n_groups = int(entropy.max()) + 1

    green_size = _GREEN_BASE + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _Code(_read_prefix_code(br, green_size)),
                _Code(_read_prefix_code(br, 256)),  # red
                _Code(_read_prefix_code(br, 256)),  # blue
                _Code(_read_prefix_code(br, 256)),  # alpha
                _Code(_read_prefix_code(br, 40)),  # distance
            )
        )

    n_px = w * height
    px = np.zeros(n_px, dtype=np.uint32)
    pos = 0
    group = groups[0]
    while pos < n_px:
        if entropy is not None:
            y, x = divmod(pos, w)
            group = groups[int(entropy[y >> meta_bits, x >> meta_bits])]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.read(br)
        if s < 256:  # literal
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            val = (alpha << 24) | (red << 16) | (s << 8) | blue
            px[pos] = val
            if cache is not None:
                cache[(0x1E35A7BD * val & 0xFFFFFFFF) >> (32 - cache_bits)] = val
            pos += 1
        elif s < _GREEN_BASE:  # backward reference
            length = _copy_length(br, s - 256)
            dist_code = _copy_length(br, d_code.read(br))
            if dist_code <= 120:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            else:
                dist = dist_code - 120
            if dist > pos or pos + length > n_px:
                raise ValueError("LZ77 reference out of range")
            for i in range(length):  # overlapping copies are defined
                val = px[pos - dist + i]
                px[pos + i] = val
                if cache is not None:
                    cache[
                        (0x1E35A7BD * int(val) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = val
            pos += length
        else:  # color-cache hit
            if cache is None:
                raise ValueError("cache symbol without color cache")
            px[pos] = cache[s - _GREEN_BASE]
            pos += 1

    img = np.zeros((height, w, 4), dtype=np.uint8)
    flat = px.reshape(height, w)
    img[:, :, 0] = (flat >> 24) & 0xFF  # A
    img[:, :, 1] = (flat >> 16) & 0xFF  # R
    img[:, :, 2] = (flat >> 8) & 0xFF  # G
    img[:, :, 3] = flat & 0xFF  # B

    for ttype, targ in reversed(transforms):
        img = _inverse_transform(ttype, targ, img, width, height)
    return img


def _inverse_transform(
    ttype: int, targ, img: np.ndarray, width: int, height: int
) -> np.ndarray:
    if ttype == 2:  # subtract green
        g = img[:, :, 2].astype(np.int32)
        img[:, :, 1] = ((img[:, :, 1].astype(np.int32) + g) & 0xFF).astype(np.uint8)
        img[:, :, 3] = ((img[:, :, 3].astype(np.int32) + g) & 0xFF).astype(np.uint8)
        return img
    if ttype == 3:  # color indexing (+ bundling)
        wbits, pal, orig_w = targ
        idx_green = img[:, :, 2]
        if wbits:
            per = 1 << wbits
            bits = 8 >> wbits
            mask = (1 << bits) - 1
            cols = []
            for i in range(per):
                cols.append((idx_green >> (i * bits)) & mask)
            idx = np.stack(cols, axis=2).reshape(img.shape[0], -1)[:, :orig_w]
        else:
            idx = idx_green
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        return pal[idx]
    if ttype == 0:  # predictor
        size_bits, sub = targ
        return _inverse_predictor(img, sub, size_bits)
    if ttype == 1:  # color transform
        size_bits, sub = targ
        return _inverse_color_transform(img, sub, size_bits)
    raise AssertionError(ttype)


def _avg2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a.astype(np.int32) + b.astype(np.int32)) // 2


def _inverse_predictor(img: np.ndarray, modes: np.ndarray, size_bits: int) -> np.ndarray:
    """Inverse predictor transform (RFC 9649 §4.4.1): residual + predict,
    per channel mod 256, scanning row-major. The top-right neighbor of a
    rightmost pixel is the leftmost pixel of the SAME row (contiguous-
    memory rule)."""
    h, w = img.shape[0], img.shape[1]
    out = img.astype(np.int32)
    mode_row = modes[:, :, 2]  # green channel holds the mode
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = out[0, x - 1]
            elif x == 0:
                pred = out[y - 1, 0]
            else:
                mode = int(mode_row[y >> size_bits, x >> size_bits])
                L = out[y, x - 1]
                T = out[y - 1, x]
                TL = out[y - 1, x - 1]
                TR = out[y - 1, x + 1] if x + 1 < w else out[y, 0]
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    p = L + T - TL
                    pl = int(np.abs(p - L).sum())
                    pt = int(np.abs(p - T).sum())
                    pred = L if pl < pt else T
                elif mode == 12:
                    pred = np.clip(L + T - TL, 0, 255)
                elif mode == 13:
                    # ClampAddSubtractHalf (RFC 9649 §4.4.1): the /2 is C
                    # integer division truncating toward ZERO, not floor —
                    # for odd negative (ave - TL) they differ by one.
                    ave = _avg2(L, T)
                    d = ave - TL
                    pred = np.clip(ave + np.sign(d) * (np.abs(d) // 2), 0, 255)
                else:
                    raise ValueError(f"invalid predictor mode {mode}")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Color-transform delta: (int8(t) * int8(c)) >> 5 (RFC 9649 §4.4.2)."""
    ts = t.astype(np.int8).astype(np.int32)
    cs = c.astype(np.int8).astype(np.int32)
    return (ts * cs) >> 5


def _inverse_color_transform(
    img: np.ndarray, sub: np.ndarray, size_bits: int
) -> np.ndarray:
    h, w = img.shape[0], img.shape[1]
    by = np.arange(h) >> size_bits
    bx = np.arange(w) >> size_bits
    blocks = sub[np.ix_(by, bx)]  # (h, w, 4) transform pixels
    g2r = blocks[:, :, 3]  # blue channel of the transform pixel
    g2b = blocks[:, :, 2]  # green channel
    r2b = blocks[:, :, 1]  # red channel
    green = img[:, :, 2]
    red = (img[:, :, 1].astype(np.int32) + _ct_delta(g2r, green)) & 0xFF
    blue = (
        img[:, :, 3].astype(np.int32)
        + _ct_delta(g2b, green)
        + _ct_delta(r2b, red.astype(np.uint8))
    ) & 0xFF
    img[:, :, 1] = red.astype(np.uint8)
    img[:, :, 3] = blue.astype(np.uint8)
    return img


def read_webp(data: bytes) -> np.ndarray:
    """Decode a lossless WebP to (H, W, 3) uint8 RGB, or (H, W, 4) RGBA
    when any alpha < 255."""
    payload = _vp8l_payload(data)
    br = LsbReader(payload, "VP8L bitstream")
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb = _decode_image_stream(br, width, height, True)
    a = argb[:, :, 0]
    rgb = argb[:, :, [1, 2, 3]]
    if (a == 255).all():
        return rgb
    return np.dstack([rgb, a])


# --------------------------------------------------------------- encode

def _write_prefix_code(bw: LsbWriter, lengths: list[int]) -> None:
    """Emit one prefix code: simple form when ≤2 symbols (all ≤ 255),
    else code-length-coded with zero runs via repeat codes 17/18."""
    nz = [s for s, ln in enumerate(lengths) if ln]
    if 1 <= len(nz) <= 2 and nz[-1] <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        if nz[0] <= 1:
            bw.write(0, 1)
            bw.write(nz[0], 1)
        else:
            bw.write(1, 1)
            bw.write(nz[0], 8)
        if len(nz) == 2:
            bw.write(nz[1], 8)
        return
    bw.write(0, 1)  # code-length-coded
    # full symbol sequence FIRST (body zeros AND trailing zeros as 17/18
    # runs — no max_symbol short-circuit, so the whole alphabet is
    # covered), then the code-length code over exactly these symbols
    n = len(lengths)
    seq: list[tuple[int, int, int]] = []  # (cl_symbol, extra_value, extra_bits)

    def zero_run(run: int) -> None:
        while run >= 11:
            take = min(run, 138)
            seq.append((18, take - 11, 7))
            run -= take
        while run >= 3:
            take = min(run, 10)
            seq.append((17, take - 3, 3))
            run -= take
        for _ in range(run):
            seq.append((0, 0, 0))

    i = 0
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            zero_run(j - i)
            i = j
        else:
            seq.append((lengths[i], 0, 0))
            i += 1
    # code-length code over the 19 meta symbols
    cl_freq: dict[int, int] = {}
    for s, _, _ in seq:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    cl_lengths = _limited_lengths(cl_freq, max_len=7)
    cl_lengths += [0] * (19 - len(cl_lengths))
    num_cl = max(
        i + 1 for i, s in enumerate(_CL_ORDER) if cl_lengths[s]
    )
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    cl_codes = canonical_codes(enumerate(cl_lengths))
    cl_degenerate = sum(1 for x in cl_lengths if x) == 1
    bw.write(0, 1)  # no max_symbol short-circuit
    # degenerate code-length code: symbols cost zero bits; extras still go
    for s, extra, ebits in seq:
        if not cl_degenerate:
            code, ln = cl_codes[s]
            bw.write_code(code, ln)
        if ebits:
            bw.write(extra, ebits)


def write_webp(arr: np.ndarray) -> bytes:
    """Encode (H, W, 3) RGB or (H, W, 4) RGBA uint8 to lossless WebP
    (single VP8L chunk; literal-only — see module docstring)."""
    arr = np.asarray(arr)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4) or arr.dtype != np.uint8:
        raise ValueError("write_webp expects (H, W, 3|4) uint8")
    h, w = arr.shape[0], arr.shape[1]
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L dimensions must be in 1..16384")
    has_alpha = arr.shape[2] == 4
    alpha = arr[:, :, 3] if has_alpha else np.full((h, w), 255, dtype=np.uint8)

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha and (alpha != 255).any() else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes

    chans = {
        "green": arr[:, :, 1].ravel(),
        "red": arr[:, :, 0].ravel(),
        "blue": arr[:, :, 2].ravel(),
        "alpha": alpha.ravel(),
    }
    tables = {}
    for name, alphabet in (
        ("green", _GREEN_BASE),
        ("red", 256),
        ("blue", 256),
        ("alpha", 256),
    ):
        vals, counts = np.unique(chans[name], return_counts=True)
        freqs = {int(v): int(c) for v, c in zip(vals, counts)}
        lengths = _limited_lengths(freqs)
        lengths += [0] * (alphabet - len(lengths))
        _write_prefix_code(bw, lengths)
        tables[name] = (canonical_codes(enumerate(lengths)), len(vals) == 1)
    # distance code: unused (no LZ77) — a 1-symbol simple code
    _write_prefix_code(bw, [1] + [0] * 39)

    g_codes, g_one = tables["green"]
    r_codes, r_one = tables["red"]
    b_codes, b_one = tables["blue"]
    a_codes, a_one = tables["alpha"]
    for g, r, b, a in zip(
        chans["green"], chans["red"], chans["blue"], chans["alpha"]
    ):
        if not g_one:
            bw.write_code(*g_codes[int(g)])
        if not r_one:
            bw.write_code(*r_codes[int(r)])
        if not b_one:
            bw.write_code(*b_codes[int(b)])
        if not a_one:
            bw.write_code(*a_codes[int(a)])

    return riff(b"WEBP", [(b"VP8L", bw.getvalue())])
