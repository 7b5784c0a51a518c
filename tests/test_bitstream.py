"""`sources/bitstream`: the codecs' one bit-I/O, prefix-code and RIFF
module. Bit order and exp-Golomb/unary/signed fields are checked
against hand-computed bytes and round trips at their boundary values;
canonical codes against the JPEG Annex K tables. Every encoder is
pinned by the md5 of its output over fixed inputs, so moving a codec
onto the shared module cannot change a byte it writes. No Spark."""

from __future__ import annotations

import ast
import hashlib
import re
from pathlib import Path

import numpy as np
import pytest

from geo_big_data_analysis_spark.sources.bitstream import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    canonical_codes,
    decode_table,
    read_code,
    riff,
    riff_chunks,
)
from geo_big_data_analysis_spark.sources.flac import write_flac
from geo_big_data_analysis_spark.sources.gif import write_gif
from geo_big_data_analysis_spark.sources.h264 import (
    _decode_islice,
    _rbsp,
    _strip_emulation,
    parse_pps,
    parse_sps,
    split_annexb,
    write_annexb_ipcm,
)
from geo_big_data_analysis_spark.sources.jpeg import (
    _AC_LUM,
    _DC_LUM,
    _huffman_codes,
    read_jpeg,
    write_jpeg,
)
from geo_big_data_analysis_spark.sources.wav import write_wav
from geo_big_data_analysis_spark.sources.webp import _code_table, write_webp

PACKAGE = Path(__file__).resolve().parents[1] / "geo_big_data_analysis_spark"


# ------------------------------------------------------------ bit order

def test_msb_and_lsb_order_hand_computed_bytes():
    fields = [(1, 1), (0b01, 2), (0b10110, 5), (0x123, 12)]
    msb, lsb = MsbWriter(), LsbWriter()
    for v, n in fields:
        msb.write(v, n)
        lsb.write(v, n)
    # MSB: 1|01|10110 then 0001 0010 0011 from the top of each byte
    assert msb.getvalue() == bytes([0b10110110, 0x12, 0x30])
    # LSB: bit 0 = 1, bits 1-2 = 01 (low first), bits 3-7 = 10110
    assert lsb.getvalue() == bytes([0b10110011, 0x23, 0x01])
    for reader, data in ((MsbReader, msb.getvalue()), (LsbReader, lsb.getvalue())):
        br = reader(data, "test data")
        assert [br.read(n) for _, n in fields] == [v for v, _ in fields]


def test_prefix_codes_go_first_bit_first_in_both_orders():
    lsb = LsbWriter()
    lsb.write_code(0b110, 3)
    lsb.write(0b110, 3)
    assert lsb.getvalue() == bytes([0b110011])
    msb = MsbWriter()
    msb.write(0, 3)
    msb.align(1)  # JPEG's 1-fill
    msb.write(1, 1)  # getvalue 0-fills the partial byte
    assert msb.getvalue() == bytes([0b00011111, 0b10000000])
    table = decode_table(canonical_codes([(7, 1), (9, 2), (4, 2)]))  # 0, 10, 11
    for reader, data in ((MsbReader, b"\x5c"), (LsbReader, b"\x3a")):
        br = reader(data, "test data")  # 0 10 11 10 0 either way
        assert [read_code(br, table, 2) for _ in range(4)] == [7, 9, 4, 9]


# ---------------------------------------------------- fields round trip

def test_fixed_width_fields_round_trip_n_0_to_32():
    for writer, reader in ((MsbWriter, MsbReader), (LsbWriter, LsbReader)):
        bw, cases = writer(), []
        for n in range(33):
            for v in sorted({0, 1 % (1 << n), (1 << n) - 1, (1 << n) >> 1}):
                bw.write(v, n)
                cases.append((v, n))
        br = reader(bw.getvalue(), "test data")
        assert [br.read(n) for _, n in cases] == [v for v, _ in cases]


def test_signed_unary_and_exp_golomb_round_trip():
    signed = [
        (v, n)
        for n in range(1, 33)
        for v in (-(1 << (n - 1)), -1 if n > 1 else 0, 0, (1 << (n - 1)) - 1)
    ]
    unary = [0, 1, 7, 8, 9, 100]
    ue = [0, 1, 2, 3, 6, 7, 254, 255, 256, (1 << 31) - 1, (1 << 32) - 2]  # 2^32-2: 31 zeros
    se = [0, 1, -1, 2, -2, (1 << 31) - 1, -((1 << 31) - 1)]
    bw = MsbWriter()
    for v, n in signed:
        bw.write(v, n)
    for q in unary:
        bw.unary(q)
    for v in ue:
        bw.ue(v)
    for v in se:
        bw.se(v)
    br = MsbReader(bw.getvalue(), "test data")
    assert [br.signed(n) for _, n in signed] == [v for v, _ in signed]
    assert [br.unary() for _ in unary] == unary
    assert [br.ue() for _ in ue] == ue
    assert [br.se() for _ in se] == se
    # H.264 table 9-1: ue 0..4 = 1, 010, 011, 00100, 00101
    bw = MsbWriter()
    for v in range(5):
        bw.ue(v)
    assert bw.getvalue() == bytes([0b10100110, 0b01000010, 0b10000000])


# ------------------------------------------------------------ bad input

def test_truncation_and_malformed_codes_raise():
    for reader in (MsbReader, LsbReader):
        br = reader(b"\xa5", "test data")
        br.read(5)
        with pytest.raises(ValueError, match="truncated test data"):
            br.read(4)
        br.read(3)
        with pytest.raises(ValueError, match="truncated"):
            br.bit()
    with pytest.raises(ValueError, match="truncated"):
        MsbReader(b"\x00\x00", "test data").unary()
    bw = MsbWriter()
    bw.ue((1 << 32) - 1)  # 32 leading zeros
    with pytest.raises(ValueError, match="exp-Golomb"):
        MsbReader(bw.getvalue(), "test data").ue()
    table = decode_table(canonical_codes([(0, 1), (1, 2)]))  # 0, 10; 11 unused
    with pytest.raises(ValueError, match="invalid prefix code"):
        read_code(MsbReader(b"\xc0", "test data"), table, 2)
    with pytest.raises(ValueError, match="over-subscribed"):
        canonical_codes([(0, 1), (1, 1), (2, 1)])


def test_vp8l_kraft_incomplete_length_set_raises():
    with pytest.raises(ValueError, match="Kraft"):
        _code_table([2, 2, 2, 0])
    with pytest.raises(ValueError, match="Kraft"):
        _code_table([1, 2, 2, 2])
    table, max_len = _code_table([1, 2, 3, 3])
    assert max_len == 3 and len(table) == 4


def test_codec_input_checks_still_raise():
    img = (np.arange(16 * 24) * 7 % 256).astype(np.uint8).reshape(16, 24)
    framed = write_jpeg(img, restart_interval=1)
    assert np.array_equal(read_jpeg(framed), read_jpeg(write_jpeg(img)))
    scan = framed.index(b"\xff\xda") + 10  # entropy-coded data of the gray scan
    missing = framed[:scan] + re.sub(rb"\xff[\xd0-\xd7]", b"", framed[scan:])
    with pytest.raises(ValueError, match="expected RST0"):
        read_jpeg(missing)
    marker = framed[: scan + 1] + b"\xff\xc4" + framed[scan + 1 :]
    with pytest.raises(ValueError, match="truncated JPEG"):
        read_jpeg(marker)
    nals = split_annexb(write_annexb_ipcm([np.zeros((16, 16), dtype=np.uint8)]))
    sps = parse_sps(_strip_emulation(nals[0][1:]))
    pps = parse_pps(_strip_emulation(nals[1][1:]))
    bw = MsbWriter()
    for v in (0, 7, 0):  # first_mb, slice_type I, pps_id
        bw.ue(v)
    bw.write(0, 4)  # frame_num
    bw.ue(1)  # idr_pic_id
    bw.se(0)
    bw.ue(25)  # I_PCM at bit 26
    bw.align(1)  # pcm_alignment_zero_bits set to 1
    bw.write(0, 8 * 384)
    with pytest.raises(ValueError, match="pcm_alignment"):
        _decode_islice(_rbsp(bw), sps, pps, idr=True)


# --------------------------------------------------------- prefix codes

def _bits(code):
    return format(code[0], f"0{code[1]}b")


def test_canonical_codes_equal_jpeg_annex_k():
    dc = _huffman_codes(*_DC_LUM)  # Table K.3
    assert [_bits(dc[c]) for c in range(12)] == [
        "00", "010", "011", "100", "101", "110", "1110", "11110",
        "111110", "1111110", "11111110", "111111110",
    ]
    ac = _huffman_codes(*_AC_LUM)  # Table K.5 (run/size → code)
    expected = {
        0x00: "1010", 0x01: "00", 0x02: "01", 0x03: "100", 0x04: "1011",
        0x05: "11010", 0x06: "1111000", 0x07: "11111000",
        0x08: "1111110110", 0x09: "1111111110000010",
        0x0A: "1111111110000011", 0x11: "1100", 0x12: "11011",
        0x13: "1111001", 0x14: "111110110", 0x15: "11111110110",
        0x21: "11100", 0x22: "11111001", 0x31: "111010", 0x41: "111011",
        0x51: "1111010", 0x61: "1111011", 0x71: "11111010",
        0xF0: "11111111001", 0xFA: "1111111111111110",
    }
    assert {s: _bits(ac[s]) for s in expected} == expected
    assert len(ac) == 162


def test_riff_round_trip_and_padding():
    data = riff(b"WAVE", [(b"fmt ", b"abcd"), (b"odd!", b"xyz"), (b"data", b"")])
    assert data[:12] == b"RIFF" + (4 + 12 + 12 + 8).to_bytes(4, "little") + b"WAVE"
    assert b"xyz\x00data" in data  # an odd body is padded to a word
    assert list(riff_chunks(data)) == [(b"fmt ", b"abcd"), (b"odd!", b"xyz"), (b"data", b"")]


# ------------------------------------------------------- encoder pins

def _hashed(n, mod):
    i = np.arange(n, dtype=np.uint64)
    return ((i * np.uint64(2654435761)) >> np.uint64(11)) % np.uint64(mod)


def _img(h, w, c=None, mod=256):
    a = _hashed(h * w * (c or 1), mod).astype(np.uint8)
    return a.reshape((h, w, c) if c else (h, w))


#: md5 of each encoder's output, computed before the codecs shared
#: `sources/bitstream`
ENCODER_MD5 = {
    "jpeg_444": "06ab72b894c2638940f9cc4dd8322d92",
    "jpeg_420": "bee1cdb543db8a43e485cd80925cfedc",
    "jpeg_420_rst2": "ab0043171100a3ba21aedcf9eb0c54b3",
    "jpeg_gray_rst1": "9c666a54372a1f24a3f9469e0b9509d2",
    "jpeg_smooth": "8abd6e75f6d78aba38c41f1747be5fe8",
    "webp_rgb": "f5de7aaa56b11ae5ab6112331be2e0a6",
    "webp_rgba": "d7d35279c82d384c647d2cc300030df7",
    "webp_two": "4d09a999aa66adaf02d2e6d87f572205",
    "gif_frames": "c5d64539701850e4a2526bc7b13de211",
    "gif_reset": "6d9beef74b9ec1937ceeac7fc9c92ea3",
    "gif_local": "cd08be916334d5ee5ee3561de0981854",
    "flac_stereo": "e4fb929847d70600bbc225f06fe24869",
    "flac_tone8": "17b9d53de99e095bd17a74dd86ddb82d",
    "flac_oddrate": "af2839aeb84586d5fcf83f51cd2db9a5",
    "wav_pcm16": "c3f27cff2ad2fc2888df89205b63802c",
    "wav_ulaw": "0ead95c9d294c029193ff0a06738a90a",
    "wav_alaw": "35c1594030bff25060ff73a6a6a06b7e",
    "wav_adpcm": "60f6048c5c9d1e335596020018eed9d1",
    "h264_ipcm": "4f56323e71efc04ff2ea45e36737d08e",
}


def _encoded() -> dict[str, bytes]:
    rgb, gray = _img(24, 40, 3), _img(24, 40)
    smooth = np.stack(np.mgrid[0:24, 0:40], axis=-1).sum(axis=-1).astype(np.uint8) * 5
    audio = (_hashed(6000, 60000).astype(np.int64) - 30000).reshape(3000, 2)
    tone = (1000 * np.sin(np.arange(5000) / 40)).astype(np.int64)
    return {
        "jpeg_444": write_jpeg(rgb),
        "jpeg_420": write_jpeg(rgb, subsampling="420"),
        "jpeg_420_rst2": write_jpeg(rgb, restart_interval=2, subsampling="420"),
        "jpeg_gray_rst1": write_jpeg(gray, restart_interval=1),
        "jpeg_smooth": write_jpeg(smooth),
        "webp_rgb": write_webp(_img(13, 11, 3)),
        "webp_rgba": write_webp(_img(9, 14, 4, mod=7)),
        "webp_two": write_webp(_img(5, 6, 3, mod=2)),
        "gif_frames": write_gif([_img(12, 10, mod=16), _img(12, 10, mod=5)], _img(16, 3)),
        "gif_reset": write_gif([_img(80, 90)], _img(256, 3)),  # LZW table fills at 4096
        "gif_local": write_gif([_img(7, 9, mod=4)] * 2, _img(4, 3), [None, _img(4, 3, mod=9)]),
        "flac_stereo": write_flac(audio, 44100, bps=16, blocksize=1024),
        "flac_tone8": write_flac(tone % 100, 8000, bps=8, blocksize=576),
        "flac_oddrate": write_flac(tone, 12345, bps=16, blocksize=4096),
        "wav_pcm16": write_wav(audio, 22050),
        "wav_ulaw": write_wav(audio, 8000, g711="ulaw"),
        "wav_alaw": write_wav(audio[:, :1], 8000, g711="alaw"),
        "wav_adpcm": write_wav(audio, 11025, ima_adpcm=True),
        "h264_ipcm": write_annexb_ipcm([_img(32, 48), _img(32, 48, mod=3)]),
    }


def test_encoder_output_is_pinned():
    encoded = _encoded()
    assert encoded["jpeg_420_rst2"].count(b"\xff\x00") > 0  # byte stuffing is exercised
    assert {k: hashlib.md5(v).hexdigest() for k, v in encoded.items()} == ENCODER_MD5


# --------------------------------------------------------- source guard

_BIT_IO_CLASS = re.compile(r"(Bit|Msb|Lsb)(Reader|Writer)$")


def _bit_io_classes(sources: dict[str, str]) -> list[str]:
    """`module:Class` for each bit reader/writer class outside bitstream.py."""
    return [
        f"{name}:{node.name}"
        for name, src in sorted(sources.items())
        if name != "sources/bitstream.py"
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ClassDef) and _BIT_IO_CLASS.search(node.name)
    ]


def _package_sources() -> dict[str, str]:
    return {str(p.relative_to(PACKAGE)): p.read_text() for p in PACKAGE.rglob("*.py")}


def test_bit_io_classes_live_only_in_bitstream():
    sources = _package_sources()
    assert "sources/bitstream.py" in sources
    assert _bit_io_classes(sources) == []


def test_bit_io_guard_catches_a_planted_class():
    sources = _package_sources()
    sources["sources/gif.py"] += "\n\nclass _BitWriter:\n    pass\n"
    sources["sources/jpeg.py"] += "\n\ndef f():\n    class MsbReader:\n        pass\n"
    assert _bit_io_classes(sources) == ["sources/gif.py:_BitWriter", "sources/jpeg.py:MsbReader"]
