"""WebP lossless (VP8L) codec: encoder round-trips plus hand-built
bitstreams for decoder features the minimal encoder never emits
(LZ77 backrefs with direct and 2D-mapped distances, color cache,
subtract-green / predictor / color / color-indexing transforms, meta
prefix codes). Expected pixels in hand-stream tests are computed
directly in the test from the spec arithmetic, not via the decoder."""

import numpy as np
import pytest

from geo_big_data_analysis_spark.sources.bitstream import (
    LsbReader,
    LsbWriter,
    canonical_codes,
)
from geo_big_data_analysis_spark.sources.webp import (
    _DIST_MAP,
    _copy_length,
    _write_prefix_code,
    is_webp,
    read_webp,
    write_webp,
)


def _rng(seed=0):
    return np.random.default_rng(seed)


# ------------------------------------------------------- encoder trips

@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_roundtrip_random_rgb(seed):
    img = _rng(seed).integers(0, 256, (13 + seed, 11 + 2 * seed, 3), dtype=np.uint8)
    assert np.array_equal(read_webp(write_webp(img)), img)


def test_roundtrip_rgba_and_alpha_collapse():
    img = _rng(5).integers(0, 256, (9, 7, 4), dtype=np.uint8)
    img[0, 0, 3] = 17  # keep a real alpha
    assert np.array_equal(read_webp(write_webp(img)), img)
    img[:, :, 3] = 255  # opaque alpha collapses to RGB
    assert np.array_equal(read_webp(write_webp(img)), img[:, :, :3])


def test_roundtrip_edge_shapes():
    for shape in [(1, 1, 3), (1, 200, 3), (200, 1, 3), (2, 2, 4)]:
        img = _rng(9).integers(0, 256, shape, dtype=np.uint8)
        dec = read_webp(write_webp(img))
        want = img if not (shape[2] == 4 and (img[:, :, 3] == 255).all()) else img[:, :, :3]
        assert np.array_equal(dec, want)


def test_roundtrip_simple_code_channels():
    # constant and two-valued channels exercise the 1- and 2-symbol
    # "simple" prefix-code forms
    img = np.zeros((6, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 42
    img[::2, :, 1] = 7
    img[:, :, 2] = np.where(_rng(3).integers(0, 2, (6, 6)) > 0, 3, 250)
    assert np.array_equal(read_webp(write_webp(img)), img)


def test_container_and_input_validation():
    assert not is_webp(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):
        read_webp(b"RIFF\x04\x00\x00\x00WEBP")
    with pytest.raises(ValueError):
        write_webp(np.zeros((4, 4), dtype=np.uint8))
    with pytest.raises(ValueError):
        write_webp(np.zeros((4, 4, 3), dtype=np.int32))
    lossy = b"RIFF" + b"\x14\x00\x00\x00" + b"WEBP" + b"VP8 " + b"\x04\x00\x00\x00" + b"\x00" * 4
    with pytest.raises(NotImplementedError):
        read_webp(lossy)


def test_distance_map_matches_spec_head():
    # RFC 9649 §4.6.2.3 distance-mapping table, documented head
    assert _DIST_MAP[:22] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2),
    ]
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120


# ----------------------------------------------------- stream builders

def _header(bw, w, h):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _container(bw):
    import struct

    payload = bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _simple1(bw, sym):
    """1-symbol simple prefix code (decodes with zero bits)."""
    bw.write(1, 1)
    bw.write(0, 1)
    if sym <= 1:
        bw.write(0, 1)
        bw.write(sym, 1)
    else:
        bw.write(1, 1)
        bw.write(sym, 8)


def _simple2(bw, s0, s1):
    bw.write(1, 1)
    bw.write(1, 1)
    if s0 <= 1:
        bw.write(0, 1)
        bw.write(s0, 1)
    else:
        bw.write(1, 1)
        bw.write(s0, 8)
    bw.write(s1, 8)


def _len_sym(value):
    """(symbol, extra_value, extra_bits) producing a given LZ77
    length/distance value — inverse of _copy_length."""
    if value <= 4:
        return value - 1, 0, 0
    for sym in range(4, 24):
        extra = (sym - 2) >> 1
        offset = (2 + (sym & 1)) << extra
        if offset + 1 <= value <= offset + (1 << extra):
            return sym, value - offset - 1, extra
    raise AssertionError(value)


def test_len_sym_inverts_copy_length():
    class FakeBR:
        def __init__(self, v):
            self.v = v

        def read(self, n):
            return self.v

    for value in list(range(1, 50)) + [120, 121, 1000, 4096]:
        sym, extra, ebits = _len_sym(value)
        assert _copy_length(FakeBR(extra), sym) == value


# ---------------------------------------------------- decoder features

def test_lz77_direct_distance():
    # 4x1: one literal pixel then a length-3 copy at direct distance 1
    # (dist_code = 121) → solid row
    bw = LsbWriter()
    _header(bw, 4, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix
    lsym, lextra, lbits = _len_sym(3)
    green = [0] * 280
    green[50] = 1  # literal green 50
    green[256 + lsym] = 1  # the length code
    _write_prefix_code(bw, green)
    _simple1(bw, 60)  # red
    _simple1(bw, 70)  # blue
    _simple1(bw, 255)  # alpha
    dsym, dextra, dbits = _len_sym(121)
    dist = [0] * 40
    dist[dsym] = 1
    _write_prefix_code(bw, dist)
    # data: literal (green bit + 0 bits for r/b/a) then length+distance
    g_codes = {50: 0, 256 + lsym: 1}  # canonical: two syms, 1 bit each
    bw.write_code(g_codes[50], 1)
    bw.write_code(g_codes[256 + lsym], 1)
    if lbits:
        bw.write(lextra, lbits)
    if dbits:
        bw.write(dextra, dbits)
    out = read_webp(_container(bw))
    assert out.shape == (1, 4, 3)
    assert (out == np.array([60, 50, 70], dtype=np.uint8)).all()


def test_lz77_mapped_distance_copies_row_above():
    # 3x2: three literals, then dist_code 1 → map entry (0, 1) → dist =
    # width → the second row copies the first
    bw = LsbWriter()
    _header(bw, 3, 2)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    lsym, lextra, lbits = _len_sym(3)
    green = [0] * 280
    for g in (10, 20, 30):
        green[g] = 2
    green[256 + lsym] = 2
    _write_prefix_code(bw, green)
    reds = [0] * 256
    reds[1] = 1
    reds[2] = 1
    _write_prefix_code(bw, reds)  # 2-symbol red code: red alternates
    _simple1(bw, 5)  # blue
    _simple1(bw, 255)  # alpha
    dist = [0] * 40
    dist[0] = 1  # GetCopyDistance(0) = 1 → mapped (0, 1)
    _write_prefix_code(bw, dist)
    g_codes = {10: (0, 2), 20: (1, 2), 30: (2, 2), 256 + lsym: (3, 2)}
    r_codes = {1: (0, 1), 2: (1, 1)}
    for g, r in ((10, 1), (20, 2), (30, 1)):
        bw.write_code(*g_codes[g])
        bw.write_code(*r_codes[r])
    bw.write_code(*g_codes[256 + lsym])
    if lbits:
        bw.write(lextra, lbits)
    out = read_webp(_container(bw))
    assert out.shape == (2, 3, 3)
    assert np.array_equal(out[1], out[0])
    assert list(out[0, :, 1]) == [10, 20, 30]
    assert list(out[0, :, 0]) == [1, 2, 1]


def test_color_cache_hit():
    cache_bits = 4
    a, r, g, b = 255, 60, 50, 70
    val = (a << 24) | (r << 16) | (g << 8) | b
    idx = ((0x1E35A7BD * val) & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = LsbWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)  # no transforms
    bw.write(1, 1)  # color cache
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta prefix
    green = [0] * (280 + (1 << cache_bits))
    green[g] = 1
    green[280 + idx] = 1
    _write_prefix_code(bw, green)
    _simple1(bw, r)
    _simple1(bw, b)
    _simple1(bw, a)
    _simple1(bw, 0)  # distance (unused)
    bw.write_code(0, 1)  # literal (canonical: g < 280+idx → code 0)
    bw.write_code(1, 1)  # cache hit
    out = read_webp(_container(bw))
    assert out.shape == (1, 2, 3)
    assert np.array_equal(out[0, 0], out[0, 1])
    assert list(out[0, 0]) == [r, g, b]


def test_subtract_green_transform():
    # residual (r=10, g=100, b=20) → final r = 110, b = 120 (mod 256)
    bw = LsbWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)  # a transform follows
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta
    green = [0] * 280
    green[100] = 1
    _write_prefix_code(bw, green)
    _simple1(bw, 10)
    _simple1(bw, 20)
    _simple1(bw, 255)
    _simple1(bw, 0)
    out = read_webp(_container(bw))
    assert list(out[0, 0]) == [110, 100, 120]


def _entropy_coded_constant(bw, argb):
    """Write a 1x1 entropy-coded sub-image holding one ARGB pixel."""
    a, r, g, b = argb
    bw.write(0, 1)  # no color cache
    green = [0] * 280
    green[g] = 1
    _write_prefix_code(bw, green)
    _simple1(bw, r)
    _simple1(bw, b)
    _simple1(bw, a)
    _simple1(bw, 0)


def test_predictor_transform_mode_T():
    # 2x2, predictor block covers the image, mode 2 (= top). Residuals
    # chosen so the spec arithmetic gives a known image:
    # (0,0): pred black(a=255) → px = res + (0,0,0) with a += 255
    # (0,1): pred L            (1,0): pred T (x==0 col rule)
    # (1,1): pred T (mode 2)
    bw = LsbWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(0, 3)  # size_bits = 2 → 4-px blocks → 1x1 mode image
    _entropy_coded_constant(bw, (255, 0, 2, 0))  # mode 2 in green channel
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    greens = [0] * 280
    for v in (1, 2, 3, 4):
        greens[v] = 2
    _write_prefix_code(bw, greens)
    _simple1(bw, 0)  # red residual 0
    _simple1(bw, 0)  # blue residual 0
    _simple1(bw, 0)  # alpha residual 0
    _simple1(bw, 0)
    codes = {1: (0, 2), 2: (1, 2), 3: (2, 2), 4: (3, 2)}
    for v in (1, 2, 3, 4):
        bw.write_code(*codes[v])
    out = read_webp(_container(bw))
    # greens: (0,0)=1; (0,1)=1+2=3; (1,0)=1+3=4; (1,1)=3+4=7
    assert out.shape == (2, 2, 3)
    assert out[0, 0, 1] == 1 and out[0, 1, 1] == 3
    assert out[1, 0, 1] == 4 and out[1, 1, 1] == 7
    assert out[0, 0, 0] == 0  # red stays 0 everywhere


def _channel_code(bw, syms, alphabet):
    """Write a prefix code for one channel's symbol multiset; return
    sym → (code, nbits). Multi-symbol codes are built COMPLETE (Kraft
    sum 1) with lengths L-1/L — the decoder rejects incomplete codes."""
    used = sorted(set(syms))
    if len(used) == 1:
        _simple1(bw, used[0])
        return {used[0]: (0, 0)}
    lengths = [0] * alphabet
    nbits = max(1, (len(used) - 1).bit_length())
    short = (1 << nbits) - len(used)  # symbols promoted to nbits-1
    for i, s in enumerate(used):
        lengths[s] = (nbits - 1) if i < short else nbits
    _write_prefix_code(bw, lengths)
    return canonical_codes(enumerate(lengths))


def _ref_predict(mode, L, T, TL, TR):
    """RFC 9649 §4.4.1 predictor arithmetic, written from the spec
    (channel vectors are [a, r, g, b] ints). Independent of webp.py."""
    def avg(a, b):
        return [(x + y) // 2 for x, y in zip(a, b)]

    if mode == 0:
        return [255, 0, 0, 0]
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return avg(avg(L, TR), T)
    if mode == 6:
        return avg(L, TL)
    if mode == 7:
        return avg(L, T)
    if mode == 8:
        return avg(TL, T)
    if mode == 9:
        return avg(T, TR)
    if mode == 10:
        return avg(avg(L, TL), avg(T, TR))
    if mode == 11:  # Select
        p = [l + t - tl for l, t, tl in zip(L, T, TL)]
        pl = sum(abs(pc - lc) for pc, lc in zip(p, L))
        pt = sum(abs(pc - tc) for pc, tc in zip(p, T))
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        return [min(255, max(0, l + t - tl)) for l, t, tl in zip(L, T, TL)]
    # 13: ClampAddSubtractHalf — C division truncates toward zero
    out = []
    for l, t, tl in zip(L, T, TL):
        ave = (l + t) // 2
        d = ave - tl
        half = (abs(d) // 2) * (1 if d >= 0 else -1)
        out.append(min(255, max(0, ave + half)))
    return out


@pytest.mark.parametrize("mode", list(range(14)))
def test_predictor_all_modes(mode):
    """3x2 image, one predictor block, every mode 0-13. First four pixels
    pin L/T/TL/TR; (1,1) and (1,2) carry zero residuals so their decoded
    values ARE the predictions (TR of (1,2) wraps to row-leftmost).
    Values chosen so mode 13 hits ave < TL with odd delta (red: ave 10,
    TL 13 → spec 9, floor-division bug gives 8; blue: ave 147, TL 200 →
    spec 121, bug gives 120)."""
    # decoded targets, channel order [a, r, g, b]
    V00 = [255, 13, 13, 200]  # TL of (1,1)
    V01 = [255, 10, 50, 40]   # T  of (1,1)
    V02 = [255, 77, 30, 8]    # TR of (1,1)
    V10 = [255, 10, 20, 255]  # L  of (1,1)
    # residuals from the spec's scan-order rules: (0,0) pred black,
    # first row pred L, first col pred T
    res = [
        [(v - p) & 0xFF for v, p in zip(V00, [255, 0, 0, 0])],
        [(v - p) & 0xFF for v, p in zip(V01, V00)],
        [(v - p) & 0xFF for v, p in zip(V02, V01)],
        [(v - p) & 0xFF for v, p in zip(V10, V00)],
        [0, 0, 0, 0],
        [0, 0, 0, 0],
    ]
    bw = LsbWriter()
    _header(bw, 3, 2)
    bw.write(1, 1)
    bw.write(0, 2)  # predictor transform
    bw.write(0, 3)  # size_bits = 2 → 4-px blocks → 1x1 mode image
    _entropy_coded_constant(bw, (255, 0, mode, 0))
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    greens = _channel_code(bw, [r[2] for r in res], 280)
    reds = _channel_code(bw, [r[1] for r in res], 256)
    blues = _channel_code(bw, [r[3] for r in res], 256)
    alphas = _channel_code(bw, [r[0] for r in res], 256)
    _simple1(bw, 0)  # distance (unused)
    for r in res:
        bw.write_code(*greens[r[2]])
        bw.write_code(*reds[r[1]])
        bw.write_code(*blues[r[3]])
        bw.write_code(*alphas[r[0]])
    out = read_webp(_container(bw))
    assert out.shape == (2, 3, 3)
    P11 = _ref_predict(mode, V10, V01, V00, V02)
    # (1,2): L = P11, T = V02, TL = V01, TR wraps to row-leftmost = V10
    P12 = _ref_predict(mode, P11, V02, V01, V10)
    want = np.array(
        [[V00[1:] if c == 0 else (V01[1:] if c == 1 else V02[1:])
          for c in range(3)],
         [V10[1:], P11[1:], P12[1:]]],
        dtype=np.uint8,
    )[:, :, [0, 1, 2]]  # [r, g, b] slices already in RGB order
    assert np.array_equal(out, want), f"mode {mode}: {out} != {want}"


def test_kraft_incomplete_code_raises():
    """An under-subscribed multi-symbol length set must raise, not
    misdecode (three symbols all at length 2 leaves a dangling code)."""
    from geo_big_data_analysis_spark.sources.webp import _code_table

    lengths = [0] * 16
    lengths[1] = lengths[2] = lengths[3] = 2
    with pytest.raises(ValueError, match="Kraft"):
        _code_table(lengths)
    lengths[4] = 2  # complete
    table, _ = _code_table(lengths)
    assert len(table) == 4
    lengths[5] = 2  # over-subscribed
    with pytest.raises(ValueError, match="Kraft"):
        _code_table(lengths)


def test_degenerate_cl_code_with_length_gt_one():
    """A code-length code declaring exactly ONE used CL symbol whose
    declared length is > 1 is degenerate (zero-bit reads). The old code
    did cl_lengths.index(1) and crashed with an accidental
    'ValueError: 1 is not in list' (ADVICE r5). Stream: CL symbol 8 at
    CL length 3 is the only declared entry (_CL_ORDER slot 11), so every
    zero-bit read yields literal length 8 for the first max_symbol
    entries."""
    from geo_big_data_analysis_spark.sources.webp import _read_prefix_code

    bw = LsbWriter()
    bw.write(0, 1)  # not simple
    bw.write(8, 4)  # num_cl = 12 → order slots 17,18,0,1,2,3,4,5,16,6,7,8
    for slot in range(12):
        bw.write(3 if slot == 11 else 0, 3)  # only CL sym 8, CL len 3
    bw.write(1, 1)  # max_symbol short-circuit on
    bw.write(0, 3)  # length_nbits = 2
    bw.write(2, 2)  # max_symbol = 2 + 2 = 4 → first 4 syms get len 8
    lengths = _read_prefix_code(LsbReader(bw.getvalue(), "VP8L bitstream"), 280)
    assert lengths[:4] == [8, 8, 8, 8] and not any(lengths[4:])


def test_color_transform_delta():
    # 1x1 color transform with green_to_red = 64 (delta = (64*g)>>5),
    # residual green 32 → red delta = (64*32)>>5 = 64
    bw = LsbWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)
    bw.write(1, 2)  # color transform
    bw.write(0, 3)  # size_bits = 2
    # transform pixel: blue channel = green_to_red = 64, others 0
    _entropy_coded_constant(bw, (0, 0, 0, 64))
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    green = [0] * 280
    green[32] = 1
    _write_prefix_code(bw, green)
    _simple1(bw, 10)  # red residual
    _simple1(bw, 5)  # blue residual
    _simple1(bw, 255)
    _simple1(bw, 0)
    out = read_webp(_container(bw))
    # red = 10 + ((64 * 32) >> 5) = 74; blue = 5 + g2b(0) + r2b(0) = 5
    assert list(out[0, 0]) == [74, 32, 5]


def test_color_indexing_with_bundling():
    # 4-color palette → wbits 2 → 4 indices per packed green byte.
    # Palette (delta-coded): entries argb deltas; width 8, so packed
    # width 2. Indices 0..3 repeating.
    bw = LsbWriter()
    _header(bw, 8, 1)
    bw.write(1, 1)
    bw.write(3, 2)  # color indexing
    bw.write(3, 8)  # 4 colors - 1
    # palette sub-image: 4x1 entropy-coded, literal pixels = DELTAS
    bw.write(0, 1)  # no color cache (sub-image)
    pg = [0] * 280
    for v in (10, 20):
        pg[v] = 1
    _write_prefix_code(bw, pg)  # greens alternate +10, +20
    _simple1(bw, 1)  # every red delta = 1
    _simple1(bw, 0)  # blue deltas 0
    pa = [0] * 256
    pa[255] = 1
    pa[0] = 1
    _write_prefix_code(bw, pa)  # alpha: first 255 then +0s
    _simple1(bw, 0)
    pg_codes = {10: (0, 1), 20: (1, 1)}
    pa_codes = {0: (0, 1), 255: (1, 1)}
    for i, (gd, ad) in enumerate(((10, 255), (20, 0), (10, 0), (20, 0))):
        bw.write_code(*pg_codes[gd])
        bw.write_code(*pa_codes[ad])
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # main image: no cache
    bw.write(0, 1)  # no meta
    # packed image 2x1: green bytes pack indices [0,1,2,3] → bits
    # 0b11100100 = 228, twice
    mg = [0] * 280
    mg[228] = 1
    _write_prefix_code(bw, mg)
    _simple1(bw, 0)
    _simple1(bw, 0)
    _simple1(bw, 255)
    _simple1(bw, 0)
    out = read_webp(_container(bw))
    # palette after cumsum: greens 10,30,40,60; reds 1,2,3,4;
    # alphas 255,255,255,255; blues 0
    assert out.shape == (1, 8, 3)
    assert list(out[0, :4, 1]) == [10, 30, 40, 60]
    assert list(out[0, 4:, 1]) == [10, 30, 40, 60]
    assert list(out[0, :4, 0]) == [1, 2, 3, 4]


def test_meta_prefix_two_groups():
    # width 8, meta_bits 2 → entropy image 2x1; left block group 0
    # (green 11), right block group 1 (green 22)
    bw = LsbWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix present
    bw.write(0, 3)  # meta_bits = 2
    # entropy image 2x1: pixels with (red<<8|green) = group id
    bw.write(0, 1)  # sub-image: no cache
    eg = [0] * 280
    eg[0] = 1
    eg[1] = 1
    _write_prefix_code(bw, eg)  # greens 0 then 1
    _simple1(bw, 0)  # red 0
    _simple1(bw, 0)
    _simple1(bw, 255)
    _simple1(bw, 0)
    eg_codes = {0: (0, 1), 1: (1, 1)}
    bw.write_code(*eg_codes[0])
    bw.write_code(*eg_codes[1])
    # group 0 codes
    g0 = [0] * 280
    g0[11] = 1
    _write_prefix_code(bw, g0)
    _simple1(bw, 1)
    _simple1(bw, 2)
    _simple1(bw, 255)
    _simple1(bw, 0)
    # group 1 codes
    g1 = [0] * 280
    g1[22] = 1
    _write_prefix_code(bw, g1)
    _simple1(bw, 3)
    _simple1(bw, 4)
    _simple1(bw, 255)
    _simple1(bw, 0)
    out = read_webp(_container(bw))
    assert list(out[0, :, 1]) == [11, 11, 11, 11, 22, 22, 22, 22]
    assert list(out[0, :, 0]) == [1, 1, 1, 1, 3, 3, 3, 3]


def test_decode_media_routes_webp():
    from geo_big_data_analysis_spark.sources.multimodal import decode_media

    img = _rng(21).integers(0, 256, (10, 12, 3), dtype=np.uint8)
    assert np.array_equal(decode_media(write_webp(img), "image"), img)


def test_resize_image_webp_roundtrip(spark):
    """WebP payloads resize on the true pixel grid and re-encode as
    lossless WebP; metadata follows (the PNG resize contract)."""
    from geo_big_data_analysis_spark.sources.multimodal import resize_image

    base = np.arange(192, dtype=np.uint8).reshape(8, 8, 3)
    df = spark.createDataFrame(
        [(1, bytearray(write_webp(base)))], "item_id bigint, payload binary"
    ).selectExpr(
        "item_id",
        "payload",
        "named_struct('media_type', 'image', 'width', 8, 'height', 8,"
        " 'sample_rate', CAST(NULL AS INT), 'n_frames', CAST(NULL AS INT))"
        " AS media",
    )
    out = resize_image(df, out_w=4, out_h=2).collect()[0]
    assert out["media"]["width"] == 4 and out["media"]["height"] == 2
    got = read_webp(bytes(out["payload"]))
    ys = (np.arange(2) * 8 // 2).astype(int)
    xs = (np.arange(4) * 8 // 4).astype(int)
    assert np.array_equal(got, base[np.ix_(ys, xs)])


def test_truncated_stream_raises():
    img = _rng(11).integers(0, 256, (8, 8, 3), dtype=np.uint8)
    enc = write_webp(img)
    with pytest.raises(ValueError):
        read_webp(enc[: len(enc) - 12])


def test_lz77_overrun_raises():
    # copy longer than pixels remaining
    bw = LsbWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    lsym, lextra, lbits = _len_sym(4)
    green = [0] * 280
    green[50] = 1
    green[256 + lsym] = 1
    _write_prefix_code(bw, green)
    _simple1(bw, 0)
    _simple1(bw, 0)
    _simple1(bw, 255)
    dist = [0] * 40
    dsym, dextra, dbits = _len_sym(121)
    dist[dsym] = 1
    _write_prefix_code(bw, dist)
    bw.write_code(0, 1)
    bw.write_code(1, 1)
    if lbits:
        bw.write(lextra, lbits)
    if dbits:
        bw.write(dextra, dbits)
    with pytest.raises(ValueError):
        read_webp(_container(bw))
