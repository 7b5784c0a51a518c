"""Pure-stdlib MP4 (ISO Base Media File Format) container parse/mux.

Written from the published spec (ISO/IEC 14496-12): the box structure
(size+fourcc, 64-bit largesize, size-0-to-EOF), the moov/trak/mdia/
minf/stbl hierarchy, and the sample-table boxes that map samples to
byte ranges — stsz/stz2 (sizes), stsc (sample→chunk), stco/co64
(chunk offsets), stts (decode durations), stss (sync samples).

What a 100 TB video-curation pipeline needs from MP4 is exactly this
layer: enumerate frames/samples, slice their byte ranges, drop or
keep samples, and re-mux — all WITHOUT decoding the codec bitstream
(the sample payloads stay opaque bytes, like every payload in the
multimodal schema). Codec pixel decode (H.264 etc.) remains out of
scope; `frame_sample` in sources/multimodal.py uses this module to
do REAL sample-level sampling on MP4 payloads.

The muxer writes a minimal single-track file (ftyp + mdat + moov with
one chunk per sample) that the parser — and any spec-conforming
reader — round-trips exactly.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


def is_mp4(data: bytes) -> bool:
    return len(data) >= 8 and data[4:8] in (b"ftyp", b"moov", b"mdat", b"free", b"styp")


def _walk(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"malformed box {fourcc!r} at {pos}")
        yield fourcc, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, fourcc: bytes):
    for fc, b, e in _walk(data, start, end):
        if fc == fourcc:
            return b, e
    return None


@dataclass
class Mp4Track:
    track_id: int
    handler: str          # 'vide' | 'soun' | ...
    codec: str            # sample-entry fourcc
    timescale: int
    sample_sizes: list[int] = field(default_factory=list)
    sample_offsets: list[int] = field(default_factory=list)
    sample_durations: list[int] = field(default_factory=list)
    sync_samples: list[int] = field(default_factory=list)  # 1-based, empty = all sync

    @property
    def n_samples(self) -> int:
        return len(self.sample_sizes)

    @property
    def duration(self) -> int:
        return sum(self.sample_durations)


def _parse_stbl(data: bytes, b: int, e: int, trk: Mp4Track):
    sizes, stsc, stco, stts, stss = None, None, None, None, None
    for fc, bb, ee in _walk(data, b, e):
        body = data[bb:ee]
        if fc == b"stsd":
            # version/flags + entry_count, then first sample entry's fourcc
            if len(body) >= 16:
                trk.codec = body[12:16].decode("latin1")
        elif fc == b"stsz":
            sample_size, count = struct.unpack(">II", body[4:12])
            if sample_size:
                sizes = [sample_size] * count
            else:
                sizes = list(struct.unpack(f">{count}I", body[12 : 12 + 4 * count]))
        elif fc == b"stz2":
            fsz = body[7]
            count = struct.unpack(">I", body[8:12])[0]
            if fsz == 16:
                sizes = list(struct.unpack(f">{count}H", body[12 : 12 + 2 * count]))
            elif fsz == 8:
                sizes = list(body[12 : 12 + count])
            else:
                raise NotImplementedError(f"stz2 field size {fsz}")
        elif fc == b"stsc":
            count = struct.unpack(">I", body[4:8])[0]
            stsc = [
                struct.unpack(">III", body[8 + 12 * i : 20 + 12 * i])
                for i in range(count)
            ]  # (first_chunk, samples_per_chunk, sample_desc_idx)
        elif fc == b"stco":
            count = struct.unpack(">I", body[4:8])[0]
            stco = list(struct.unpack(f">{count}I", body[8 : 8 + 4 * count]))
        elif fc == b"co64":
            count = struct.unpack(">I", body[4:8])[0]
            stco = list(struct.unpack(f">{count}Q", body[8 : 8 + 8 * count]))
        elif fc == b"stts":
            count = struct.unpack(">I", body[4:8])[0]
            stts = [
                struct.unpack(">II", body[8 + 8 * i : 16 + 8 * i])
                for i in range(count)
            ]  # (sample_count, sample_delta)
        elif fc == b"stss":
            count = struct.unpack(">I", body[4:8])[0]
            stss = list(struct.unpack(f">{count}I", body[8 : 8 + 4 * count]))
    if sizes is None or stsc is None or stco is None:
        raise ValueError("stbl missing stsz/stsc/stco")
    trk.sample_sizes = sizes
    trk.sync_samples = stss or []
    # expand stts into per-sample durations
    durs: list[int] = []
    if stts:
        for n, delta in stts:
            durs.extend([delta] * n)
    trk.sample_durations = durs or [0] * len(sizes)
    # resolve per-sample byte offsets: walk chunks, applying the
    # stsc run-length table (first_chunk is 1-based and marks where a
    # new samples-per-chunk value takes effect)
    offsets: list[int] = []
    si = 0
    for ci, chunk_off in enumerate(stco, start=1):
        spc = 1
        for first, n, _ in stsc:
            if first <= ci:
                spc = n
            else:
                break
        off = chunk_off
        for _ in range(spc):
            if si >= len(sizes):
                break
            offsets.append(off)
            off += sizes[si]
            si += 1
    if si < len(sizes):
        raise ValueError("chunk table does not cover all samples")
    trk.sample_offsets = offsets


def read_mp4(data: bytes) -> list[Mp4Track]:
    """Parse the container structure: one Mp4Track per trak box with
    fully-resolved per-sample (offset, size, duration) tables."""
    if not is_mp4(data):
        raise ValueError("not an ISO-BMFF (MP4) stream")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    tracks: list[Mp4Track] = []
    for fc, b, e in _walk(data, *moov):
        if fc != b"trak":
            continue
        trk = Mp4Track(track_id=0, handler="", codec="", timescale=0)
        tkhd = _find(data, b, e, b"tkhd")
        if tkhd:
            version = data[tkhd[0]]
            # v0: creation(4)+modification(4)+track_id(4); v1: 8+8+4
            off = tkhd[0] + 4 + (16 if version else 8)
            trk.track_id = struct.unpack(">I", data[off : off + 4])[0]
        mdia = _find(data, b, e, b"mdia")
        if mdia is None:
            continue
        mdhd = _find(data, *mdia, b"mdhd")
        if mdhd:
            version = data[mdhd[0]]
            off = mdhd[0] + 4 + (16 if version else 8)
            trk.timescale = struct.unpack(">I", data[off : off + 4])[0]
        hdlr = _find(data, *mdia, b"hdlr")
        if hdlr:
            trk.handler = data[hdlr[0] + 8 : hdlr[0] + 12].decode("latin1")
        minf = _find(data, *mdia, b"minf")
        if minf is None:
            continue
        stbl = _find(data, *minf, b"stbl")
        if stbl is None:
            continue
        _parse_stbl(data, *stbl, trk)
        tracks.append(trk)
    if not tracks:
        raise ValueError("MP4 has no parseable tracks")
    return tracks


def extract_samples(data: bytes, track: Mp4Track) -> list[bytes]:
    """Slice each sample's byte range out of the stream (no decode)."""
    return [
        data[o : o + s]
        for o, s in zip(track.sample_offsets, track.sample_sizes)
    ]


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, body: bytes, flags: int = 0) -> bytes:
    return _box(fourcc, struct.pack(">I", flags) + body)  # version 0


def write_mp4(
    samples: list[bytes],
    timescale: int = 1000,
    durations: list[int] | None = None,
    handler: str = "vide",
    codec: str = "raw ",
) -> bytes:
    """Mux samples into a minimal single-track MP4: ftyp + mdat +
    moov, one chunk per sample (stsc run collapses to one entry),
    stts run-length-encoded from the duration list."""
    if durations is None:
        durations = [1] * len(samples)
    if len(durations) != len(samples):
        raise ValueError("durations length mismatch")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mdat_off = len(ftyp)
    mdat = _box(b"mdat", b"".join(samples))
    # per-sample chunk offsets inside mdat's body
    offsets = []
    off = mdat_off + 8
    for s in samples:
        offsets.append(off)
        off += len(s)

    total_dur = sum(durations)
    # stts: run-length encode
    runs: list[tuple[int, int]] = []
    for d in durations:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    stts = _full(
        b"stts",
        struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", n, d) for n, d in runs),
    )
    stsz = _full(
        b"stsz",
        struct.pack(">II", 0, len(samples))
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stsc = _full(b"stsc", struct.pack(">I", 1) + struct.pack(">III", 1, 1, 1))
    stco = _full(
        b"stco",
        struct.pack(">I", len(offsets))
        + b"".join(struct.pack(">I", o) for o in offsets),
    )
    sample_entry = struct.pack(">I", 16) + codec.encode("latin1") + b"\x00" * 6 + struct.pack(">H", 1)
    stsd = _full(b"stsd", struct.pack(">I", 1) + sample_entry)
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", struct.pack(">I", 1) + _full(b"url ", b"", flags=1))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", _full(b"nmhd", b"") + dinf + stbl)
    hdlr_b = _full(
        b"hdlr", struct.pack(">I", 0) + handler.encode("latin1") + b"\x00" * 12 + b"\x00"
    )
    mdhd = _full(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, total_dur) + struct.pack(">HH", 0x55C4, 0),
    )
    mdia = _box(b"mdia", mdhd + hdlr_b + minf)
    tkhd = _full(
        b"tkhd",
        struct.pack(">III", 0, 0, 1)          # created/modified/track_id
        + struct.pack(">I", 0)                 # reserved
        + struct.pack(">I", total_dur)
        + b"\x00" * 8                          # reserved
        + struct.pack(">HHHH", 0, 0, 0, 0)     # layer/group/volume/reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 0, 0),            # width/height (16.16)
        flags=7,
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, total_dur)
        + struct.pack(">IH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),                # next track id
    )
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
