"""Pure-stdlib MP3 (MPEG audio) frame-header walk — stream metadata
without audio decode.

Written from the published MPEG audio spec (ISO/IEC 11172-3 §2.4.1
frame header layout; 13818-3 for MPEG-2 LSF): each frame starts with
an 11-bit sync, then version/layer/bitrate-index/samplerate-index/
padding fields from which the frame's byte length is exact — so the
whole stream can be walked frame-by-frame, yielding per-frame
bitrate, sample rate, channel mode, and sample count. That is the
complete metadata surface a curation pipeline reads from MP3 (ffprobe
does the same walk): duration, mean bitrate, VBR detection, corrupt
frame positions. ID3v2 prefix tags are skipped by their syncsafe
length; ID3v1 ('TAG' trailer) is ignored.

Full Layer III audio DECODE (Huffman + IMDCT + synthesis filterbank)
is intentionally out of scope — lossless round-trip testing is
impossible for a lossy codec without a reference decoder, and FLAC
(`sources/flac.py`) already covers compressed audio for real. The
paired synthesizer emits spec-valid frames (correct headers + sized
dummy payloads) so the walker is testable against closed-form
arithmetic, and any real MP3 walks identically.
"""

from __future__ import annotations

from dataclasses import dataclass

# bitrate kbps tables: [version-group][layer][index]; None = free/bad
_BITRATES_V1 = {
    1: [None, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    2: [None, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    3: [None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
}
_BITRATES_V2 = {
    1: [None, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    2: [None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    3: [None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}
_MODES = ["stereo", "joint_stereo", "dual_channel", "mono"]


@dataclass
class Mp3Frame:
    offset: int
    version: str        # '1' | '2' | '2.5'
    layer: int          # 1 | 2 | 3
    bitrate_kbps: int
    sample_rate: int
    channel_mode: str
    n_samples: int      # PCM samples this frame decodes to
    frame_bytes: int


def is_mp3(data: bytes) -> bool:
    if data[:3] == b"ID3":
        return True
    return (
        len(data) >= 2
        and data[0] == 0xFF
        and (data[1] & 0xE0) == 0xE0
        and (data[1] >> 3) & 0x3 != 0x1  # version not reserved
        and (data[1] >> 1) & 0x3 != 0x0  # layer not reserved
    )


def _id3v2_size(data: bytes) -> int:
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    # syncsafe 28-bit length, excludes the 10-byte header
    n = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + n


def parse_frame_header(data: bytes, pos: int) -> Mp3Frame:
    b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
    if data[pos] != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError(f"no frame sync at {pos}")
    ver_bits = (b1 >> 3) & 0x3       # 0=2.5, 2=MPEG2, 3=MPEG1
    layer_bits = (b1 >> 1) & 0x3     # 1=III, 2=II, 3=I
    if ver_bits == 1 or layer_bits == 0:
        raise ValueError(f"reserved version/layer at {pos}")
    layer = 4 - layer_bits
    br_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    if br_idx in (0, 0xF) or sr_idx == 3:
        raise ValueError(f"free/bad bitrate or bad samplerate at {pos}")
    padding = (b2 >> 1) & 1
    table = _BITRATES_V1 if ver_bits == 3 else _BITRATES_V2
    kbps = table[layer][br_idx]
    rate = _RATES[ver_bits][sr_idx]
    if layer == 1:
        n_samples = 384
        nbytes = (12 * kbps * 1000 // rate + padding) * 4
    else:
        n_samples = 1152 if (layer == 2 or ver_bits == 3) else 576
        per = 144 if (layer == 2 or ver_bits == 3) else 72
        nbytes = per * kbps * 1000 // rate + padding
    return Mp3Frame(
        offset=pos,
        version={3: "1", 2: "2", 0: "2.5"}[ver_bits],
        layer=layer,
        bitrate_kbps=kbps,
        sample_rate=rate,
        channel_mode=_MODES[(b3 >> 6) & 0x3],
        n_samples=n_samples,
        frame_bytes=nbytes,
    )


def read_mp3_frames(data: bytes) -> list[Mp3Frame]:
    """Walk the whole stream frame-by-frame. Raises on a gap that is
    not an ID3 tag — a corrupt stream fails loudly, it does not
    silently resync (resync policy belongs to the caller)."""
    pos = _id3v2_size(data)
    frames: list[Mp3Frame] = []
    while pos + 4 <= len(data):
        if data[pos : pos + 3] == b"TAG":  # ID3v1 trailer, 128 bytes
            pos += 128
            continue
        f = parse_frame_header(data, pos)
        if pos + f.frame_bytes > len(data):
            raise ValueError(f"truncated final frame at {pos}")
        frames.append(f)
        pos += f.frame_bytes
    if pos != len(data):
        # Either 1-3 trailing bytes that can't hold a frame header, or a
        # truncated ID3v1 trailer (the TAG skip overshot the end) — fail
        # loudly per the contract instead of silently ignoring them.
        raise ValueError(
            f"trailing garbage after last frame: stream ends at {len(data)} "
            f"but frame walk stopped at {pos}"
        )
    if not frames:
        raise ValueError("no MPEG audio frames found")
    return frames


def stream_stats(data: bytes) -> dict:
    """ffprobe-style summary: duration, mean bitrate, VBR flag."""
    frames = read_mp3_frames(data)
    dur = sum(f.n_samples / f.sample_rate for f in frames)
    rates = {f.bitrate_kbps for f in frames}
    return {
        "n_frames": len(frames),
        "duration_s": dur,
        "mean_bitrate_kbps": sum(f.bitrate_kbps for f in frames) / len(frames),
        "vbr": len(rates) > 1,
        "sample_rate": frames[0].sample_rate,
        "channel_mode": frames[0].channel_mode,
    }


def write_mp3_stream(bitrate_indices: list[int], sr_idx: int = 0,
                     version1: bool = True) -> bytes:
    """Synthesize a spec-valid Layer III stream: one frame per bitrate
    index (1-14), headers exactly per §2.4.1, payload filled with
    0xAA. Used to test the walker against closed-form frame
    arithmetic; real MP3s walk through the same code path."""
    out = bytearray()
    ver_bits = 3 if version1 else 2
    table = _BITRATES_V1 if version1 else _BITRATES_V2
    rate = _RATES[ver_bits][sr_idx]
    for br_idx in bitrate_indices:
        if not 1 <= br_idx <= 14:
            raise ValueError(f"bitrate index {br_idx} out of range")
        kbps = table[3][br_idx]
        per = 144 if version1 else 72
        nbytes = per * kbps * 1000 // rate
        hdr = bytes(
            [
                0xFF,
                0xE0 | (ver_bits << 3) | (1 << 1) | 1,  # layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | 0,       # no padding
                0xC0,                                     # mono
            ]
        )
        out += hdr + bytes([0xAA]) * (nbytes - 4)
    return bytes(out)
