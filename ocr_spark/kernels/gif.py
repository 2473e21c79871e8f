"""GIF87a/89a codec — pure stdlib+numpy, no imaging libraries.

Implements the public GIF89a specification (CompuServe, 1990): logical
screen descriptor, global color table, graphic-control / application /
comment extensions, per-frame image descriptors with optional local
color tables and interlacing, and the variable-code-width LZW
compression GIF mandates (dynamic table up to 12-bit codes, CLEAR /
EOI control codes, deferred-clear tolerated on decode).

The reference pipeline whitelists raster scans by extension
(scripts/ExtractX_OCR.py:72 accepts what PIL opens, which includes
.gif); this decoder feeds the same mapInPandas metadata / feature /
perceptual-hash operators as the PNG and JPEG kernels.  The encoder
exists to build deterministic fixtures so the decode path is pinned by
round-trip tests — same policy as kernels/png.py / kernels/jpeg.py.

Only index-mode output: a decoded frame is the palette-index array plus
the palette itself; callers needing RGB expand via ``palette[idx]``.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class GifError(ValueError):
    pass


# ---------------------------------------------------------------- LZW


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-variant LZW: codes start at ``min_code_size + 1`` bits, the
    table grows to 4095 entries, a CLEAR resets it; codes pack
    little-endian (LSB of the stream fills the LSB of byte 0 first)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    seq = indices.ravel().tolist()

    out_bits: list[tuple[int, int]] = []  # (code, width) in emit order

    def fresh_table() -> dict[tuple[int, ...], int]:
        return {(i,): i for i in range(clear)}

    table = fresh_table()
    next_code = eoi + 1
    width = min_code_size + 1
    out_bits.append((clear, width))
    run: tuple[int, ...] = ()
    for sym in seq:
        if sym >= clear:
            raise GifError(f"index {sym} exceeds palette for code size")
        cand = run + (sym,)
        if cand in table:
            run = cand
            continue
        out_bits.append((table[run], width))
        table[cand] = next_code
        next_code += 1
        # width grows AFTER the code that fills the current range
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            out_bits.append((clear, width))
            table = fresh_table()
            next_code = eoi + 1
            width = min_code_size + 1
        run = (sym,)
    if run:
        out_bits.append((table[run], width))
    out_bits.append((eoi, width))

    acc = 0
    nbits = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise GifError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise GifError("first LZW code not in initial table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise GifError("LZW code beyond table")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    arr = np.frombuffer(bytes(out[:n_expected]), dtype=np.uint8)
    if arr.size < n_expected:
        raise GifError(
            f"LZW yielded {arr.size} of {n_expected} expected pixels"
        )
    return arr


# ------------------------------------------------------------- writer


def _color_table(palette: np.ndarray) -> tuple[bytes, int]:
    """Pad the palette to a power-of-two size >= 2; returns (raw RGB
    bytes, field value log2(size)-1 for the packed flags)."""
    n = len(palette)
    size = 2
    while size < n:
        size *= 2
    pad = np.zeros((size, 3), dtype=np.uint8)
    pad[:n] = palette
    return pad.tobytes(), size.bit_length() - 2


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


def _interlace_order(h: int) -> np.ndarray:
    rows: list[int] = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return np.asarray(rows, dtype=np.int64)


def encode_gif(
    frames: "list[np.ndarray] | np.ndarray",
    palette: np.ndarray,
    interlace_first: bool = False,
    delay_cs: int = 4,
) -> bytes:
    """Deterministic GIF89a writer for fixtures: one global color
    table, every frame full-size at (0,0); multi-frame files carry a
    NETSCAPE2.0 loop extension and per-frame graphic controls.  With
    ``interlace_first`` frame 0 stores rows in the four-pass interlace
    order (decoders must undo it)."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    pal = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    h, w = frames[0].shape
    table, field_bits = _color_table(pal)
    mcs = max(2, field_bits + 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (field_bits << 4) | field_bits)  # GCT flag+sizes
    out += b"\x00\x00"  # bg color, aspect
    out += table
    if len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0" + _sub_blocks(b"\x01\x00\x00")
    for fi, fr in enumerate(frames):
        if fr.shape != (h, w):
            raise GifError("all fixture frames must share the logical size")
        if len(frames) > 1:
            out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        inter = interlace_first and fi == 0
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out.append(0x40 if inter else 0x00)
        rows = fr[_interlace_order(h)] if inter else fr
        out.append(mcs)
        out += _sub_blocks(_lzw_encode(rows.astype(np.uint8), mcs))
    out.append(0x3B)
    return bytes(out)


# ------------------------------------------------------------- reader


@dataclass
class GifImage:
    width: int
    height: int
    version: str
    palette: np.ndarray  # (n, 3) uint8 — global table
    frames: list[np.ndarray] = field(default_factory=list)  # index arrays

    @property
    def n_frames(self) -> int:
        return len(self.frames)


def _read_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise GifError("sub-block stream truncated")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out.extend(data[pos : pos + n])
        if len(data) < pos + n:
            raise GifError("sub-block overruns file")
        pos += n


def decode_gif(data: bytes) -> GifImage:
    if len(data) < 13 or data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise GifError("not a GIF87a/89a stream")
    version = data[3:6].decode("ascii")
    w, h = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    pos = 13
    gct = np.zeros((2, 3), dtype=np.uint8)
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = (
            np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=pos)
            .reshape(n, 3)
            .copy()
        )
        pos += 3 * n
    img = GifImage(width=w, height=h, version=version, palette=gct)
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte then sub-blocks
            if pos >= len(data):
                raise GifError("extension truncated")
            pos += 1
            _, pos = _read_blocks(data, pos)
            continue
        if b != 0x2C:
            raise GifError(f"unknown block 0x{b:02x}")
        left, top, fw, fh = struct.unpack_from("<HHHH", data, pos)
        pos += 8
        fflags = data[pos]
        pos += 1
        pal = img.palette
        if fflags & 0x80:  # local color table
            n = 2 << (fflags & 0x07)
            pal = (
                np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=pos)
                .reshape(n, 3)
                .copy()
            )
            pos += 3 * n
        del pal  # frames are index arrays; tables kept global-only
        mcs = data[pos]
        pos += 1
        lzw, pos = _read_blocks(data, pos)
        flat = _lzw_decode(lzw, mcs, fw * fh)
        fr = flat.reshape(fh, fw)
        if fflags & 0x40:  # interlaced: rows stored in pass order
            out = np.zeros_like(fr)
            out[_interlace_order(fh)] = fr
            fr = out
        full = np.zeros((h, w), dtype=np.uint8)
        full[top : top + fh, left : left + fw] = fr
        img.frames.append(full)
    if not img.frames:
        raise GifError("no image data blocks")
    return img

