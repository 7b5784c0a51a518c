"""Pure-Python animated-GIF decode/encode — un-stubbing the multimodal
VIDEO path (multi-frame standard container) the way `sources/png.py` /
`sources/wav.py` un-stubbed images and audio. Implements real GIF87a/
GIF89a LZW with variable code width, clear/EOI codes, and sub-block
framing.

Scope (documented feature matrix):
- decode: global + local color tables, multiple image descriptors
  (frames), graphic-control extensions (delay read, disposal ignored —
  frames are composited onto the running canvas at their offsets,
  which is exact for the full-frame streams the encoder here writes
  and for disposal-method-1 streams generally); interlaced frames are
  deinterlaced (the 4-pass 0::8/4::8/2::4/1::2 row scatter of
  appendix E). Two decode APIs: `read_gif` returns index-space frames
  against the single GLOBAL table (an LCT frame keeps exact indices but
  its true colors are out of that table's reach), while `read_gif_rgb`
  maps each image through ITS OWN table (LCT if present, else GCT) and
  composites in RGB — per GIF89a §20 an LCT scopes to its image only,
  so multi-LCT streams decode per-frame-correct there.
- encode: N full-canvas palette-indexed frames with one global color
  table, LZW-compressed (dictionary reset on table overflow at 4096);
  optional per-frame LOCAL color tables via `local_palettes`.

Reference: CompuServe GIF89a specification (1990) — LZW §22,
block layout appendix.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitstream import LsbReader, LsbWriter

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def is_gif(data: bytes) -> bool:
    return data[:6] in GIF_MAGICS


def _lzw_decode(min_code_size: int, data: bytes, n_expected: int) -> bytes:
    """GIF-variant LZW: variable code width starting at
    min_code_size+1, CLEAR resets the dictionary, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    br = LsbReader(data, "GIF LZW data")

    def reset():
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        return table, min_code_size + 1

    table, width = reset()
    prev: bytes | None = None
    # a stream whose data ends without EOI stops there
    while br.end - br.pos >= width:
        code = br.read(width)
        if code == eoi:
            break
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) >= n_expected:
            break
    return bytes(out[:n_expected])


def _lzw_encode(min_code_size: int, pixels: bytes) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = LsbWriter()
    emit = bw.write

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, width = reset()
    emit(clear, width)
    prev = b""
    for b in pixels:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table, next_code, width = reset()
        prev = bytes([b])
    if prev:
        emit(table[prev], width)
    emit(eoi, width)
    return bw.getvalue()


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        n = data[pos]
        pos += 1
        if n == 0:
            break
        chunks.append(data[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


def _walk_frames(data: bytes):
    """Yield (fx, fy, idx (fh, fw) uint8, palette (256, 3) uint8) per
    image descriptor, with the palette the spec says colors THAT image:
    its local color table if present (GIF89a §20 — an LCT scopes to its
    image only), else the global color table. Interlaced frames arrive
    already deinterlaced. Also returns the canvas size via StopIteration
    value — callers use the generator through _decode_all below."""
    if not is_gif(data):
        raise ValueError("not a GIF stream")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct_pal = np.zeros((256, 3), dtype=np.uint8)
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct_pal[:n] = np.frombuffer(
            data[pos : pos + 3 * n], dtype=np.uint8
        ).reshape(n, 3)
        pos += 3 * n
    yield (w, h, gct_pal)  # header record first
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            pos += 1  # label
            _, pos = _sub_blocks(data, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        fx, fy, fw, fh, fflags = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        pal = gct_pal
        if fflags & 0x80:
            n = 2 << (fflags & 7)
            pal = np.zeros((256, 3), dtype=np.uint8)
            pal[:n] = np.frombuffer(
                data[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        min_code = data[pos]
        pos += 1
        lzw, pos = _sub_blocks(data, pos)
        idx = np.frombuffer(
            _lzw_decode(min_code, lzw, fw * fh), dtype=np.uint8
        ).reshape(fh, fw)
        if fflags & 0x40:
            # interlaced frame (GIF89a §20, appendix E): rows are stored
            # in four passes — 0::8, 4::8, 2::4, 1::2 — scatter them
            # back to their display positions
            order = np.concatenate(
                [
                    np.arange(0, fh, 8),
                    np.arange(4, fh, 8),
                    np.arange(2, fh, 4),
                    np.arange(1, fh, 2),
                ]
            )
            deint = np.empty_like(idx)
            deint[order] = idx
            idx = deint
        yield (fx, fy, idx, pal)


def read_gif(data: bytes) -> tuple[np.ndarray, list[np.ndarray]]:
    """Decode a GIF into (global palette (256, 3) uint8 padded, list of
    (H, W) uint8 palette-index frames composited on the canvas).

    Index-space API: frames carry palette INDICES; a frame painted from
    a local color table keeps its indices but those index through the
    returned GLOBAL table. For true per-frame colors on multi-LCT
    streams use :func:`read_gif_rgb`, which composites in RGB space
    with each image's own table."""
    walk = _walk_frames(data)
    w, h, palette = next(walk)
    canvas = np.zeros((h, w), dtype=np.uint8)
    frames: list[np.ndarray] = []
    for fx, fy, idx, _pal in walk:
        fh, fw = idx.shape
        canvas[fy : fy + fh, fx : fx + fw] = idx
        frames.append(canvas.copy())
    return palette, frames


def read_gif_rgb(data: bytes) -> list[np.ndarray]:
    """Decode a GIF into true-color (H, W, 3) uint8 frames: each image
    descriptor's pixels are mapped through ITS OWN color table (local if
    present, else global) before compositing, so multi-LCT streams come
    out per-frame-correct (GIF89a §20 — an LCT scopes to its image
    only). The running canvas keeps earlier frames' already-resolved
    RGB, matching disposal-method-1 rendering."""
    walk = _walk_frames(data)
    w, h, _gct = next(walk)
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    frames: list[np.ndarray] = []
    for fx, fy, idx, pal in walk:
        fh, fw = idx.shape
        canvas[fy : fy + fh, fx : fx + fw] = pal[idx]
        frames.append(canvas.copy())
    return frames


def _pal_table(pal: np.ndarray) -> tuple[np.ndarray, int]:
    """Pad a palette to the next power-of-two size; return (table, bits)."""
    pal = np.asarray(pal, dtype=np.uint8)
    bits = max(1, int(np.ceil(np.log2(max(len(pal), 2)))))
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    return table, bits


def write_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    local_palettes: list[np.ndarray | None] | None = None,
) -> bytes:
    """Encode full-canvas (H, W) uint8 index frames + an (n, 3) palette
    as an animated GIF89a (global color table, a graphic-control
    extension per frame). ``local_palettes`` optionally gives one entry
    per frame: a non-None entry is written as that image's LOCAL color
    table (GIF89a §20), so multi-LCT streams can be synthesized for the
    true-color decode path (:func:`read_gif_rgb`)."""
    if not frames:
        raise ValueError("no frames")
    if local_palettes is not None and len(local_palettes) != len(frames):
        raise ValueError("local_palettes must have one entry per frame")
    h, w = frames[0].shape
    table, bits = _pal_table(palette)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += table.tobytes()
    for i, fr in enumerate(frames):
        assert fr.shape == (h, w)
        lct = local_palettes[i] if local_palettes is not None else None
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 4) + b"\x00\x00"  # 4 cs delay
        if lct is None:
            out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            min_code = max(2, bits)
        else:
            ltable, lbits = _pal_table(lct)
            out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x80 | (lbits - 1))
            out += ltable.tobytes()
            min_code = max(2, lbits)
        out.append(min_code)
        lzw = _lzw_encode(min_code, fr.tobytes())
        for j in range(0, len(lzw), 255):
            chunk = lzw[j : j + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)
