"""H.264 bitstream layer + I_PCM decode (`sources/h264.py`).

Round trips run through the conformant in-repo encoder; structural
expectations (exp-Golomb vectors, SPS arithmetic, emulation bytes) are
computed from the spec in the test, not via the decoder."""

import numpy as np
import pytest

from geo_big_data_analysis_spark.sources.bitstream import MsbReader, MsbWriter
from geo_big_data_analysis_spark.sources.h264 import (
    _add_emulation,
    _rbsp,
    _strip_emulation,
    is_annexb_h264,
    parse_pps,
    parse_sps,
    read_annexb_h264,
    split_annexb,
    write_annexb_ipcm,
)


def _rng(seed=0):
    return np.random.default_rng(seed)


# ------------------------------------------------------------ bit layer

def test_exp_golomb_vectors():
    """Spec table 9-1: ue codes 0..8 → 1, 010, 011, 00100, ..."""
    bw = MsbWriter()
    for v in range(9):
        bw.ue(v)
    br = MsbReader(bw.getvalue(), "H.264 bitstream")
    assert [br.ue() for _ in range(9)] == list(range(9))
    bw2 = MsbWriter()
    for v in (0, 1, -1, 2, -2, 7, -7):
        bw2.se(v)
    br2 = MsbReader(bw2.getvalue(), "H.264 bitstream")
    assert [br2.se() for _ in range(7)] == [0, 1, -1, 2, -2, 7, -7]


def test_emulation_prevention_roundtrip():
    """Every 00 00 {00,01,02,03} sequence gets an escape byte; strip
    inverts add exactly (spec 7.4.1.1)."""
    for raw in (
        b"\x00\x00\x00", b"\x00\x00\x01", b"\x00\x00\x02", b"\x00\x00\x03",
        b"\x00\x00\x04",  # no escape needed
        b"ab\x00\x00\x01cd\x00\x00\x00\x00\x03",
        bytes(range(256)) * 3,
    ):
        ebsp = _add_emulation(raw)
        assert b"\x00\x00\x01" not in ebsp[:-1] or raw.endswith(b"\x01")
        assert _strip_emulation(ebsp) == raw
    assert _add_emulation(b"\x00\x00\x01") == b"\x00\x00\x03\x01"
    assert _add_emulation(b"\x00\x00\x04") == b"\x00\x00\x04"


def test_split_annexb_mixed_prefixes():
    data = (
        b"\x00\x00\x00\x01\x67AAA"  # 4-byte prefix SPS
        b"\x00\x00\x01\x68BB"       # 3-byte prefix PPS
        b"\x00\x00\x00\x01\x65CCCC"
    )
    nals = split_annexb(data)
    assert [n[0] & 0x1F for n in nals] == [7, 8, 5]
    assert nals[1] == b"\x68BB"


# ---------------------------------------------------------- round trips

@pytest.mark.parametrize("seed,shape,n", [(0, (16, 16), 1), (1, (32, 48), 3), (2, (48, 32), 4)])
def test_ipcm_roundtrip_random(seed, shape, n):
    """Random luma exercises emulation-prevention insertion (zero runs
    occur in raw PCM samples); I_PCM is lossless so decode must be
    bit-exact."""
    frames = [_rng(seed + k).integers(0, 256, shape, dtype=np.uint8) for k in range(n)]
    dec = read_annexb_h264(write_annexb_ipcm(frames))
    assert dec.shape == (n, *shape)
    for k in range(n):
        assert np.array_equal(dec[k], frames[k])


def test_ipcm_roundtrip_adversarial_zeros():
    """All-zero and start-code-shaped pixel content must survive the
    escape layer (a frame full of 00 00 01 patterns)."""
    f0 = np.zeros((16, 16), dtype=np.uint8)
    f1 = np.tile(np.array([0, 0, 1, 0], dtype=np.uint8), (16, 4))
    dec = read_annexb_h264(write_annexb_ipcm([f0, f1]))
    assert np.array_equal(dec[0], f0) and np.array_equal(dec[1], f1)


def test_sps_fields_and_sniff():
    enc = write_annexb_ipcm([np.zeros((32, 64), dtype=np.uint8)])
    assert is_annexb_h264(enc)
    nals = split_annexb(enc)
    sps = parse_sps(_strip_emulation(nals[0][1:]))
    assert (sps["profile_idc"], sps["level_idc"]) == (66, 20)
    assert (sps["width"], sps["height"]) == (64, 32)
    assert sps["poc_type"] == 2 and sps["frame_mbs_only"] == 1
    pps = parse_pps(_strip_emulation(nals[1][1:]))
    assert pps["entropy_cabac"] == 0 and pps["init_qp"] == 26
    assert not is_annexb_h264(b"\x00\x00\x01\x65slice-first")
    assert not is_annexb_h264(b"RIFFxxxxWEBP")


def test_sps_cropping_arithmetic():
    """Hand-built SPS with frame cropping: 2-sample crop units in 4:2:0
    frame coding (spec 7.4.2.1.1) — 176x144 coded, crop right 3 / bottom
    1 → 170x142."""
    bw = MsbWriter()
    bw.write(66, 8)
    bw.write(0, 8)
    bw.write(30, 8)
    bw.ue(0)   # sps_id
    bw.ue(0)   # log2_max_frame_num_minus4
    bw.ue(2)   # poc_type
    bw.ue(1)   # max_num_ref_frames
    bw.write(0, 1)
    bw.ue(10)  # width_mbs - 1 → 11 MBs = 176
    bw.ue(8)   # height_units - 1 → 9 MBs = 144
    bw.write(1, 1)  # frame_mbs_only
    bw.write(0, 1)
    bw.write(1, 1)  # cropping
    bw.ue(0)   # left
    bw.ue(3)   # right
    bw.ue(0)   # top
    bw.ue(1)   # bottom
    bw.write(0, 1)  # vui
    sps = parse_sps(_rbsp(bw))
    assert (sps["width"], sps["height"]) == (176 - 6, 144 - 2)


# ------------------------------------------------------ named boundaries

def test_cavlc_macroblock_raises_named_boundary():
    """A non-I_PCM mb_type must fail loudly at the CAVLC boundary, not
    misdecode. Build a valid stream then rewrite the first mb_type
    (ue(25) = 00010 1010 at a known bit offset) — simpler: craft a
    minimal slice NAL by hand with mb_type 0 (I_4x4)."""
    enc = write_annexb_ipcm([np.zeros((16, 16), dtype=np.uint8)])
    nals = split_annexb(enc)
    sps_rbsp, pps_rbsp = (_strip_emulation(n[1:]) for n in nals[:2])
    from geo_big_data_analysis_spark.sources.h264 import _decode_islice

    bw = MsbWriter()
    bw.ue(0)      # first_mb_in_slice
    bw.ue(7)      # slice_type I
    bw.ue(0)      # pps_id
    bw.write(0, 4)  # frame_num
    bw.ue(0)      # idr_pic_id
    bw.se(0)      # slice_qp_delta
    bw.ue(0)      # mb_type 0 = I_4x4 — CAVLC territory
    with pytest.raises(NotImplementedError, match="CAVLC"):
        _decode_islice(
            _rbsp(bw), parse_sps(sps_rbsp), parse_pps(pps_rbsp), idr=True
        )


def test_p_slice_and_cabac_raise():
    enc = write_annexb_ipcm([np.zeros((16, 16), dtype=np.uint8)])
    nals = split_annexb(enc)
    sps = parse_sps(_strip_emulation(nals[0][1:]))
    pps = parse_pps(_strip_emulation(nals[1][1:]))
    from geo_big_data_analysis_spark.sources.h264 import _decode_islice

    bw = MsbWriter()
    bw.ue(0)
    bw.ue(5)  # slice_type P (5 % 5 == 0)
    with pytest.raises(NotImplementedError, match="P/B slice"):
        _decode_islice(_rbsp(bw), sps, pps, idr=False)
    with pytest.raises(NotImplementedError, match="CABAC"):
        bw2 = MsbWriter()
        bw2.ue(0)
        bw2.ue(7)
        bw2.ue(0)
        bw2.write(0, 4)
        bw2.ue(0)
        _decode_islice(_rbsp(bw2), sps, {**pps, "entropy_cabac": 1}, idr=True)


def test_truncated_stream_raises():
    enc = write_annexb_ipcm([_rng(7).integers(0, 256, (16, 16), dtype=np.uint8)])
    with pytest.raises(ValueError):
        read_annexb_h264(enc[: len(enc) - 40])
    with pytest.raises(ValueError):
        read_annexb_h264(b"\x00\x00\x01\x65no-params")  # slice before SPS/PPS


def test_decode_media_routes_annexb():
    from geo_big_data_analysis_spark.sources.multimodal import decode_media

    frames = [_rng(9).integers(0, 256, (16, 32), dtype=np.uint8) for _ in range(2)]
    px = decode_media(write_annexb_ipcm(frames), "video")
    assert px.shape == (2, 16, 32)
    assert np.array_equal(px[0], frames[0]) and np.array_equal(px[1], frames[1])


def test_decode_media_sei_first_stream_aliasing_mp4_sniff():
    """ADVICE r7: an Annex-B stream whose first NAL is an SEI with
    nal_ref_idc=3 (header byte 0x66 = 'f') followed by payload bytes
    'typ' satisfies the MP4 ftyp sniff too (payload[4:8] == b'ftyp').
    The MP4 box walk fails on it, and decode_media must fall back to
    the Annex-B parser (which skips the SEI) instead of raising."""
    from geo_big_data_analysis_spark.sources.mp4 import is_mp4
    from geo_big_data_analysis_spark.sources.multimodal import decode_media

    frames = [_rng(11).integers(0, 256, (16, 16), dtype=np.uint8)]
    # SEI NAL: start code + header 0x66 (ref_idc 3, type 6) + rbsp 'typ…'
    sei = b"\x00\x00\x00\x01\x66typ-buffering-period\x80"
    stream = sei + write_annexb_ipcm(frames)
    assert stream[4:8] == b"ftyp" and is_mp4(stream)  # the ambiguity is real
    assert is_annexb_h264(stream)
    px = decode_media(stream, "video")
    assert px.shape == (1, 16, 16)
    assert np.array_equal(px[0], frames[0])
