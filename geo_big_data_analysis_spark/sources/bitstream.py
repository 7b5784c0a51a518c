"""Bit-level plumbing of the pure-Python codecs: bit order, canonical
prefix codes and RIFF chunk framing, in one place.

- MSB-first bit I/O (`MsbReader` / `MsbWriter`): JPEG entropy-coded
  data (after the codec removes its byte stuffing), H.264 RBSPs
  (exp-Golomb ``ue``/``se``) and FLAC frames (unary Rice quotients,
  signed fields).
- LSB-first bit I/O (`LsbReader` / `LsbWriter`): WebP lossless (VP8L)
  and GIF LZW codes, which pack bits from the low end of each byte.
- Canonical prefix codes: `canonical_codes` assigns the codes from
  code lengths (T.81 Annex C and RFC 9649 §4.6.2 are the same rule),
  `decode_table` gives the decoder's view of them, and `read_code`
  walks one code bit by bit. Prefix codes are sent first bit first in
  either bit order.
- RIFF containers (WAV, WebP): `riff_chunks` walks the chunks,
  `riff` builds a file from them.

A reader raises ValueError on a read past the end of its data, naming
what it reads.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator


class MsbReader:
    """Reads bits from the most significant end of each byte; ``pos``
    is the bit position, ``name`` says what the data is."""

    def __init__(self, data: bytes, name: str):
        self.data = data
        self.name = name
        self.pos = 0
        self.end = 8 * len(data)

    def read(self, n: int) -> int:
        """The next ``n`` bits as an unsigned integer, first bit highest."""
        p, q = self.pos, self.pos + n
        if q > self.end:
            raise ValueError(f"truncated {self.name}")
        self.pos = q
        stop = (q + 7) >> 3
        word = int.from_bytes(self.data[p >> 3 : stop], "big")
        return (word >> (8 * stop - q)) & ((1 << n) - 1)

    def bit(self) -> int:
        p = self.pos
        if p >= self.end:
            raise ValueError(f"truncated {self.name}")
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def signed(self, n: int) -> int:
        """An ``n``-bit two's-complement field."""
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        """The number of 0 bits before the next 1 bit (which is consumed)."""
        q = 0
        while not self.bit():
            q += 1
        return q

    def ue(self) -> int:
        """Unsigned exp-Golomb (H.264 §9.1)."""
        zeros = 0
        while not self.bit():
            zeros += 1
            if zeros > 31:
                raise ValueError("invalid exp-Golomb code")
        return (1 << zeros) - 1 + self.read(zeros)

    def se(self) -> int:
        """Signed exp-Golomb: k → (−1)^(k+1)·⌈k/2⌉."""
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def align(self) -> int:
        """Skip to the next byte boundary; returns the skipped bits."""
        return self.read(-self.pos & 7)


class MsbWriter:
    """Writes bits from the most significant end of each byte."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0  # bits held in acc

    def write(self, value: int, n: int) -> None:
        """Append the low ``n`` bits of ``value`` (two's complement for a
        negative value), highest first."""
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.n += n
        if self.n >= 64:
            k = self.n >> 3
            self.n &= 7
            self.buf += (self.acc >> self.n).to_bytes(k, "big")
            self.acc &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        """``q`` 0 bits, then a 1 bit."""
        self.write(1, q + 1)

    def ue(self, v: int) -> None:
        k = v + 1
        self.write(k, 2 * k.bit_length() - 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align(self, bit: int = 0) -> None:
        """Fill to the next byte boundary with ``bit``."""
        self.write(-bit, -self.n & 7)

    def getvalue(self) -> bytes:
        """The bytes written so far, a partial last byte 0-filled."""
        pad = -self.n & 7
        return bytes(self.buf) + (self.acc << pad).to_bytes((self.n + pad) >> 3, "big")


class LsbReader:
    """Reads bits from the least significant end of each byte; a
    multi-bit field arrives low bit first."""

    def __init__(self, data: bytes, name: str):
        self.data = data
        self.name = name
        self.pos = 0
        self.end = 8 * len(data)

    def read(self, n: int) -> int:
        p, q = self.pos, self.pos + n
        if q > self.end:
            raise ValueError(f"truncated {self.name}")
        self.pos = q
        word = int.from_bytes(self.data[p >> 3 : (q + 7) >> 3], "little")
        return (word >> (p & 7)) & ((1 << n) - 1)

    def bit(self) -> int:
        p = self.pos
        if p >= self.end:
            raise ValueError(f"truncated {self.name}")
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1


class LsbWriter:
    """Writes bits from the least significant end of each byte."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0  # bits held in acc

    def write(self, value: int, n: int) -> None:
        """Append the low ``n`` bits of ``value``, lowest first."""
        self.acc |= (value & ((1 << n) - 1)) << self.n
        self.n += n
        if self.n >= 64:
            k = self.n >> 3
            self.buf += (self.acc & ((1 << 8 * k) - 1)).to_bytes(k, "little")
            self.acc >>= 8 * k
            self.n &= 7

    def write_code(self, code: int, length: int) -> None:
        """Append a ``length``-bit prefix code, its first (highest) bit first."""
        self.write(int(f"{code:0{length}b}"[::-1], 2), length)

    def getvalue(self) -> bytes:
        """The bytes written so far, a partial last byte 0-filled."""
        return bytes(self.buf) + self.acc.to_bytes((self.n + 7) >> 3, "little")


def canonical_codes(pairs: Iterable[tuple[int, int]]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for (symbol, length) pairs: codes count up
    in order of length, equal lengths in the order of ``pairs``; a
    length of 0 gets no code. JPEG lists a DHT's HUFFVAL in code order,
    VP8L lists every symbol of the alphabet in symbol order. Raises
    ValueError when the lengths over-subscribe the code space; an
    incomplete code is allowed (JPEG's are)."""
    codes: dict[int, tuple[int, int]] = {}
    code = prev = 0
    for sym, ln in sorted((p for p in pairs if p[1]), key=lambda p: p[1]):
        code <<= ln - prev
        if code >> ln:
            raise ValueError("over-subscribed prefix code")
        codes[sym] = (code, ln)
        code += 1
        prev = ln
    return codes


def decode_table(codes: dict[int, tuple[int, int]]) -> dict[int, int]:
    """The decoder's view of `canonical_codes`: each code, with a 1 bit
    set just above its length so equal codes of different lengths stay
    apart → symbol."""
    return {(1 << ln) | code: sym for sym, (code, ln) in codes.items()}


def read_code(br: MsbReader | LsbReader, table: dict[int, int], max_len: int) -> int:
    """Decode one symbol of a `decode_table` code, one bit at a time."""
    code = 1
    for _ in range(max_len):
        code = (code << 1) | br.bit()
        sym = table.get(code)
        if sym is not None:
            return sym
    raise ValueError("invalid prefix code")


def riff_chunks(data: bytes) -> Iterator[tuple[bytes, bytes]]:
    """(fourcc, body) of each chunk of a RIFF file, after its 12-byte
    header (the caller checks the form type). Chunks are word-aligned:
    an odd-sized body is followed by a pad byte."""
    pos = 12
    while pos + 8 <= len(data):
        (size,) = struct.unpack_from("<I", data, pos + 4)
        yield data[pos : pos + 4], data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)


def riff(form: bytes, chunks: Iterable[tuple[bytes, bytes]]) -> bytes:
    """A RIFF file of type ``form`` holding the (fourcc, body) chunks."""
    body = b"".join(
        fourcc + struct.pack("<I", len(b)) + b + b"\x00" * (len(b) & 1)
        for fourcc, b in chunks
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + form + body
